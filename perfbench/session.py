"""Spark session for the benchmark: the library's own ``build_session`` with
the benchmark's confs, kept inside the checkout, plus a generic warm-up."""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile
import time
from pathlib import Path

from common import ROOT, descendants

#: Driver heap for a shared 4-core host; the library default (8g) sizes for sf1.
DRIVER_MEMORY = "1g"


def isolate(work: Path, n: int) -> None:
    """Point every temporary path of this process, the JVM it launches and
    the Python workers at ``work``, and pin the library's core count to n.
    Must run before pyspark is imported."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = None


def start(work: Path, n: int, event_log: Path | None = None):
    from scio_spark.context import build_session

    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = event_log.as_uri()
        # tracing.read_event_log reads zstd only
        confs["spark.eventLog.compress"] = "true"
        confs["spark.eventLog.compression.codec"] = "zstd"
    spark = build_session("perfbench", master=f"local[{n}]", confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, data_dir: str | None) -> None:
    """Page cache, Python worker pool, and the join/aggregate/window code
    paths: the one-time costs every workload pays before its first job."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if data_dir:
        for f in glob.glob(f"{data_dir}/*.parquet"):
            with open(f, "rb") as fh:
                while fh.read(1 << 22):
                    pass
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(64, numPartitions=n).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    left = spark.range(20000).withColumn("k", F.col("id") % 97)
    right = spark.range(97).withColumnRenamed("id", "k")
    (
        left.join(right, "k")
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
        .withColumn("r", F.row_number().over(Window.orderBy(F.desc("s"))))
        .write.format("noop").mode("overwrite").save()
    )


def shutdown() -> None:
    """Stop the session, then the JVM and its Python workers, and wait until
    every process this one started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def reference_s(spark) -> float:
    """Time of a fixed piece of JVM and Python work that no library code
    touches: how fast the host runs at this moment."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=4).selectExpr("sum((id * 7) % 13)").collect()
    sum(i * i for i in range(400_000))
    return time.perf_counter() - t0
