"""ScioContext — the pipeline/session object.

Reference semantics: scio's ``ScioContext`` (scio-core/src/main/scala/com/spotify/
scio/ScioContext.scala:432 class, :648 run(), :810 textFile, :894 parallelize) is
the entry point for all reads; ``run()`` hands the DAG to a runner. In Spark the
session *is* the runner, plans are lazy, and actions execute — so ``run()`` here
is a lightweight no-op returning a result handle (ScioContext.scala:670-731
``ScioExecutionContext`` analog).

Test substitution: scio's JobTest swaps every IO by its ``testId`` (io/
ScioIO.scala:76,82-86, testing/JobTest.scala:63-75). We reproduce that: every
named read consults ``test_inputs`` first; every named write lands in
``test_outputs`` instead of disk when test mode is active.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Spark confs tuned for correctness-vs-oracle and local[32] benching, chosen to
#: also be the right defaults on a 1000-executor cluster (AQE owns runtime
#: partition sizing; UTC pins timestamp semantics against DuckDB).
DEFAULT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert (ts DIV 1000 → micros, matching
    # DuckDB's nanos→micros truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # SMB: join differently-bucketed tables shuffle-free when counts divide
    # (scio's power-of-2 bucket compat, Sort-Merge-Bucket.md:30-33)
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    # Single-JVM local mode: the driver heap IS the executor heap. Spark's
    # 1g default fits sf0.1 but OOMs at sf1 (streaming state + shuffles on
    # 6M-row lineitem). 8g clears sf1 with headroom; BIGGER is measurably
    # WORSE at bench scale (A/B r13: 32g ran the sf0.1 suite ~30% slower
    # than 8g — G1 young-gen growth), so scale the heap with the data via
    # SPARK_GRAFT_DRIVER_MEM (e.g. 32g for sf10) instead of defaulting
    # high. Honored at JVM spawn when the session is built from a fresh
    # Python process (pyspark passes builder confs to the launcher);
    # ignored if a JVM already exists.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.driver.maxResultSize": "4g",
}


def build_session(
    app_name: str = "scio_spark",
    master: str | None = None,
    confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-sane defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    merged = dict(DEFAULT_CONFS)
    merged["spark.sql.shuffle.partitions"] = cpus
    # File listing fans out like the shuffle: at most one task per core.
    # Past Spark's 32-path threshold a listing runs as a distributed job
    # with one task per path (capped only at 10000), so a streaming batch
    # over 120 new files scheduled 120 getFileStatus tasks on 2 cores.
    # Measured on a 4-core VM (local[2], perfbench event_stream, 120-file
    # backlog): batch 0's getBatch 1.13-1.31 s -> 0.13-0.17 s. Small
    # listings still run on the driver; with SPARK_GRAFT_CPUS at a
    # cluster's core count, large listings stay parallel.
    merged["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = cpus
    if confs:
        merged.update(confs)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class ScioResult:
    """Post-run handle (ScioResult.scala analog). Spark actions are eager, so
    this only carries the taps/metrics recorded during the run."""

    def __init__(self, taps: dict[str, Any]):
        self._taps = dict(taps)

    def tap(self, name: str) -> Any:
        return self._taps[name]

    @property
    def state(self) -> str:
        return "DONE"


class ScioContext:
    """SparkSession wrapper exposing scio's read entry points + test IO swap.

    ``test_inputs`` maps IO id (e.g. ``"text:in.txt"``) → DataFrame or list of
    rows; ``test_outputs`` collects DataFrames written under test.
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        test_inputs: dict[str, Any] | None = None,
    ):
        self.spark = spark or build_session()
        self.test_inputs = test_inputs or {}
        self.test_outputs: dict[str, DataFrame] = {}
        self._taps: dict[str, Any] = {}

    @property
    def is_test(self) -> bool:
        return bool(self.test_inputs)

    # ------------------------------------------------------------------ reads

    def _maybe_test_input(self, io_id: str):
        if io_id in self.test_inputs:
            data = self.test_inputs[io_id]
            if isinstance(data, DataFrame):
                return self._wrap(data)
            return self.parallelize(data)
        return None

    def parallelize(self, data: Iterable[Any], schema=None):
        """ScioContext.scala:894 ``parallelize`` → in-memory DataFrame.

        Plain (non-Row, non-dict, non-tuple) scalars land in a single
        ``value`` column, mirroring an SCollection of primitives.
        """
        data = list(data)
        if data and not isinstance(data[0], (dict, tuple, list)):
            from pyspark.sql import Row

            if not isinstance(data[0], Row):
                data = [(x,) for x in data]
                if schema is None:
                    schema = ["value"]
        df = self.spark.createDataFrame(data, schema=schema)
        return self._wrap(df)

    def text_file(self, path: str, io_id: str | None = None):
        """ScioContext.scala:810 ``textFile`` — one ``value: string`` per line."""
        sub = self._maybe_test_input(io_id or f"text:{path}")
        if sub is not None:
            return sub
        return self._wrap(self.spark.read.text(path).withColumnRenamed("value", "value"))

    def text_files_with_path(self, path: str, io_id: str | None = None):
        """readTextFilesWithPath (FileSCollectionFunctions.scala:1-237 /
        SCollection.scala:1372-1503 readFiles family): (path, line) via
        ``input_file_name()`` — the per-file provenance column scio threads
        through its readFilesWithPath."""
        sub = self._maybe_test_input(io_id or f"textpath:{path}")
        if sub is not None:
            return sub
        df = self.spark.read.text(path).withColumn("path", F.input_file_name())
        return self._wrap(df.select("path", "value"))

    def parquet_file(
        self, path: str, io_id: str | None = None, merge_schema: bool = False
    ):
        """scio-parquet ParquetAvroIO analog — projection/predicate pushdown is
        automatic in Spark (scio needs manual ``projection=``/``predicate=``,
        scio-parquet/.../ScioContextSyntax.scala:47-48).

        ``merge_schema=True`` reconciles schema drift across files (a lake
        whose writers added columns over time — Avro schema evolution's
        reader-side analog): added columns surface as nulls on old files.
        Off by default because schema merging footer-reads every file at
        planning time."""
        sub = self._maybe_test_input(io_id or f"parquet:{path}")
        if sub is not None:
            return sub
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        return self._wrap(reader.parquet(path))

    def orc_file(self, path: str, io_id: str | None = None):
        """Columnar ORC source (Spark-native; beyond the reference's format
        list — the Hive-ecosystem sibling of parquet_file, with the same
        automatic projection/predicate pushdown)."""
        sub = self._maybe_test_input(io_id or f"orc:{path}")
        if sub is not None:
            return sub
        return self._wrap(self.spark.read.orc(path))

    def csv_file(self, path: str, schema=None, header: bool = True, io_id: str | None = None):
        """scio-extra CsvIO.scala:26-54 analog."""
        sub = self._maybe_test_input(io_id or f"csv:{path}")
        if sub is not None:
            return sub
        reader = self.spark.read.option("header", header)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return self._wrap(reader.csv(path))

    def json_file(self, path: str, schema=None, io_id: str | None = None):
        """scio-extra JsonIO.scala:32 analog (JSON-lines)."""
        sub = self._maybe_test_input(io_id or f"json:{path}")
        if sub is not None:
            return sub
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return self._wrap(reader.json(path))

    def avro_file(self, path: str, io_id: str | None = None):
        """scio-avro AvroIO analog (avro/AvroIO.scala avroFile). Fast path:
        the spark-avro DataSource when its jar is present. Fallback (this
        image): the repo's pure-Python object-container codec
        (sources/avro.py), JVM-interop-tested against avro-1.12.1.jar."""
        sub = self._maybe_test_input(io_id or f"avro:{path}")
        if sub is not None:
            return sub
        try:
            return self._wrap(self.spark.read.format("avro").load(path))
        except Exception as e:  # noqa: BLE001
            if "Failed to find data source" not in str(e):
                raise
            from .sources.avro import read_avro

            return self._wrap(read_avro(self.spark, path))

    def xml_file(self, path: str, row_tag: str = "row", schema=None, io_id: str | None = None):
        """XML source (Spark 4 native spark-xml). Bonus over the reference's
        IO inventory — its semi-structured story is JSON-only; an explicit
        ``schema`` avoids inference widening (XML numbers infer as long)."""
        sub = self._maybe_test_input(io_id or f"xml:{path}")
        if sub is not None:
            return sub
        reader = self.spark.read.option("rowTag", row_tag)
        if schema is not None:
            reader = reader.schema(schema)
        return self._wrap(reader.format("xml").load(path))

    def binary_file(self, path: str, io_id: str | None = None):
        """ScioContext.scala:825 ``binaryFile`` → binaryFile source
        (path, modificationTime, length, content)."""
        sub = self._maybe_test_input(io_id or f"binary:{path}")
        if sub is not None:
            return sub
        return self._wrap(self.spark.read.format("binaryFile").load(path))

    def jdbc(self, url: str, table: str, io_id: str | None = None, **options):
        """scio-jdbc jdbcSelect analog."""
        sub = self._maybe_test_input(io_id or f"jdbc:{table}")
        if sub is not None:
            return sub
        reader = self.spark.read.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in options.items():
            reader = reader.option(k, v)
        return self._wrap(reader.load())

    def tf_example_file(self, path: str, schema, io_id: str | None = None):
        """tfRecordExampleFile analog (scio-tensorflow TFExampleIO.scala):
        TFRecords of tf.Example protobufs → typed DataFrame shaped by the
        feature ``schema`` (tf.Example files carry none)."""
        sub = self._maybe_test_input(io_id or f"tfexample:{path}")
        if sub is not None:
            return sub
        from .sources.proto import read_tf_example

        return self._wrap(read_tf_example(self.spark, path, schema))

    def webdataset_file(
        self, path: str, ext_cols: dict, text_cols=None, io_id: str | None = None
    ):
        """WebDataset tar-shard reader (sources/webdataset.py): one row per
        sample key, one column per extension."""
        sub = self._maybe_test_input(io_id or f"webdataset:{path}")
        if sub is not None:
            return sub
        from .sources.webdataset import read_webdataset

        return self._wrap(
            read_webdataset(self.spark, path, ext_cols, text_cols=text_cols)
        )

    def arrow_file(self, path: str, io_id: str | None = None):
        """Arrow IPC / Feather v2 reader (sources/arrow_ipc.py)."""
        sub = self._maybe_test_input(io_id or f"arrow:{path}")
        if sub is not None:
            return sub
        from .sources.arrow_ipc import read_arrow_ipc

        return self._wrap(read_arrow_ipc(self.spark, path))

    def custom_input(self, io_id: str, df: DataFrame):
        """customInput (ScioContext.scala:840): wrap an arbitrary DataFrame
        as a named input — still JobTest-substitutable by io_id."""
        sub = self._maybe_test_input(io_id)
        if sub is not None:
            return sub
        return self._wrap(df)

    def sql(self, query: str, **tables):
        """The SQL entry point (scio's only SQL path is typedBigQuery —
        BigQueryType.scala:367-385 — where BQ executes the SQL; here Catalyst
        does, with identical optimization/pushdown/AQE as the DataFrame API).

        Keyword arguments register DataFrames/SCollections as temp views for
        the query's duration (analysis is eager, so dropping the views after
        building the plan is safe), letting fluent pipelines and SQL mix:

            sc.sql("SELECT k, SUM(v) s FROM t GROUP BY k", t=coll)

        A pre-existing temp view with the same name is snapshotted and
        restored afterwards instead of being silently clobbered-then-dropped.
        """
        existing = {
            t.name
            for t in self.spark.catalog.listTables()
            if getattr(t, "isTemporary", False)
        }
        registered, restore = [], {}
        for name, t in tables.items():
            df = t.df if hasattr(t, "df") else t
            if name in existing:
                restore[name] = self.spark.table(name)
            df.createOrReplaceTempView(name)
            registered.append(name)
        try:
            return self._wrap(self.spark.sql(query))
        finally:
            for name in registered:
                self.spark.catalog.dropTempView(name)
                if name in restore:
                    restore[name].createOrReplaceTempView(name)

    def table(self, name: str, sf_dir: str | None = None):
        """Load a named testdata table (TESTDATA.md) or catalog table."""
        if sf_dir is not None:
            return self.parquet_file(f"{sf_dir}/{name}.parquet", io_id=f"table:{name}")
        sub = self._maybe_test_input(f"table:{name}")
        if sub is not None:
            return sub
        return self._wrap(self.spark.table(name))

    def union_all(self, colls):
        """ScioContext.scala:874 ``unionAll`` — keeps duplicates."""
        dfs = [c.df for c in colls]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return self._wrap(out)

    # ----------------------------------------------------------------- writes

    def write_or_capture(self, df: DataFrame, io_id: str, writer: Callable[[DataFrame], None]):
        """JobTest substitution for sinks: under test, capture instead of write."""
        if self.is_test:
            self.test_outputs[io_id] = df
        else:
            writer(df)

    # -------------------------------------------------------------------- run

    def materialize(self, name: str, df: DataFrame):
        """SCollection.scala:1600 ``materialize`` — cache + temp view, tap by name."""
        df = df.cache()
        df.createOrReplaceTempView(name)
        self._taps[name] = df
        return df

    def run(self) -> ScioResult:
        """ScioContext.scala:648 — Spark executes eagerly on actions, so run()
        just seals the result handle."""
        return ScioResult(self._taps)

    # ------------------------------------------------------------------ util

    def _wrap(self, df: DataFrame):
        from scio_spark.collection import SCollection

        return SCollection(df, self)
