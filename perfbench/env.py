"""Process environment and Spark session for the benchmark.

Everything the benchmark and Spark write goes under one work directory
inside the checkout: generated inputs, sink outputs, Spark's local
directory and the JVM's and Python's temporary files.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"
DRIVER_MEMORY = "2g"


def prepare() -> None:
    """Point imports, Python workers and temp files at the checkout.

    Must run before the first Spark or ``tempfile`` use in the process.
    """
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers import the package too (pandas UDFs, datasources)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher that spark-submit runs first included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_BENCH_LITE", None)
    tempfile.tempdir = tmp


def start_spark():
    """A session built by the engine's own factory, on ``MASTER``."""
    from etl_developstoday_test_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # a fixed-size heap: the JVM's resident memory does not swing
            # with heap-resizing decisions between runs
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
