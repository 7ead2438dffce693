"""Helpers every contract family shares: the session context, table
reads, the synthetic media-asset table and the round-trip scratch path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark import ScioContext


def _ctx(spark: SparkSession) -> ScioContext:
    import os

    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return ScioContext(spark)


def _t(sc: ScioContext, sf_dir: str, name: str):
    coll = sc.parquet_file(f"{sf_dir}/{name}.parquet", io_id=f"table:{name}")
    if name == "events" and dict(coll.df.dtypes).get("ts") == "bigint":
        # nanos-as-long → micros timestamp (integer DIV: exact above 2^53)
        coll = coll.with_column("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
    return coll


def _asset_base(spark: SparkSession, n: int) -> DataFrame:
    """Synthetic media-asset id table for the codec queries, partitioned
    by FIXTURE SIZE, not scheduling width (r15-opt, guide §4): at the
    default ``spark.range(n)`` split every task carries 1-2 rows, so a
    multi-stage codec pipeline pays a per-task Python worker round-trip
    per ~single asset — measured 1.75 s → 0.55 s for audio_resample at
    n=32 just by packing ≥4 assets per task. ``min(width, n // 4)``
    stays scale-adaptive: it never exceeds the scheduler's width (the
    driver's lower-core runs get fewer, equally-full tasks) and never
    slices a fixed-size fixture thinner than the round-trip amortizes."""
    width = spark.sparkContext.defaultParallelism
    parts = max(1, min(width, n // 4))
    return spark.range(0, n, 1, parts).select(F.col("id").alias("asset_id"))


def _rt_root() -> str:
    """This process's round-trip root, ``<tempdir>/scio_spark_rt/<pid>``, so
    two checkouts or concurrent checkers never share files. A query's
    result reads its files lazily, so the root outlives the query; the
    first call in a process removes the roots of processes that are gone."""
    import os
    import shutil
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "scio_spark_rt")
    root = os.path.join(base, str(os.getpid()))
    if root not in _RT_SWEPT:
        _RT_SWEPT.add(root)
        for name in os.listdir(base) if os.path.isdir(base) else ():
            try:
                os.kill(int(name), 0)  # raises if the owning process is gone
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            except (ValueError, PermissionError):
                pass  # not a root, or a live process under another uid
    return root


_RT_SWEPT: set[str] = set()


def _rt_path(sf_dir: str, name: str) -> str:
    import os

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_rt_root(), sf, name)
