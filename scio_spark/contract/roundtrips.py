"""IO round-trip and table-maintenance contract queries.

Each round-trip query writes a deterministic subset through a scio_spark
sink, reads it back through the matching source, and aggregates/projects —
while the oracle computes the same result straight from the original
parquet. A value-hash match therefore proves the WRITE→READ path is
lossless, not just that the code runs. The table-maintenance queries
(dynamic destinations, MERGE upsert, compaction, z-order layout, snapshot
diff) are checked the same way."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip (Spark-native columnar format beside
    parquet; pushdown/pruning automatic like parquet_file). Aggregate is
    decimal-staged so the sum is partition-order independent in both
    engines."""
    path = _rt_path(sf_dir, "orc")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "orders")
        .df.filter("o_orderkey % 8 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    sc.custom_input("orc_rt_in", sub).save_as_orc_file(path)
    back = sc.orc_file(path).df
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders WHERE o_orderkey % 8 = 0 GROUP BY o_orderstatus
"""


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip (scio-extra CsvIO.scala:26-54;
    SCollection.saveAsCsvFile). Doubles survive because Spark writes
    shortest-round-trip representations; the aggregate is decimal-staged so
    the sum is partition-order independent in both engines."""
    path = _rt_path(sf_dir, "csv")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "lineitem")
        .df.filter("l_orderkey % 10 = 0")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )
    sc.custom_input("csv_rt_in", sub).save_as_csv_file(path)
    back = sc.csv_file(
        path,
        schema="l_orderkey long, l_linenumber int, l_quantity double, l_returnflag string",
    ).df
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_qty"),
    )


ORACLE_CSV_ROUNDTRIP = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY l_returnflag
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip (scio-extra JsonIO.scala:32;
    SCollection.saveAsJsonFile) with an explicit read schema (no inference
    drift)."""
    path = _rt_path(sf_dir, "json")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "orders")
        .df.filter("o_orderkey % 8 = 0")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    sc.custom_input("json_rt_in", sub).save_as_json_file(path)
    back = sc.json_file(
        path, schema="o_orderkey long, o_orderpriority string, o_totalprice double"
    ).df
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_total"),
    )


ORACLE_JSON_ROUNDTRIP = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
FROM orders WHERE o_orderkey % 8 = 0 GROUP BY o_orderpriority
"""


def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text sink+source round-trip (ScioContext.scala:810 textFile /
    SCollection.scala:1629 saveAsTextFile): rows serialized to delimited
    lines, parsed back field-exact."""
    path = _rt_path(sf_dir, "text")
    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").df
    lines = n.select(
        F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            F.col("n_regionkey").cast("string"),
            F.col("n_name"),
        ).alias("value")
    )
    sc.custom_input("text_rt_in", lines).save_as_text_file(path)
    back = sc.text_file(path).df
    p = F.split(F.col("value"), r"\|")
    return back.select(
        p.getItem(0).cast("int").alias("n_nationkey"),
        p.getItem(1).cast("int").alias("n_regionkey"),
        p.getItem(2).alias("n_name"),
    )


ORACLE_TEXT_ROUNDTRIP = """
SELECT n_nationkey, n_regionkey, n_name FROM nation
"""


def q_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord codec round-trip (scio-tensorflow TFRecordIO.scala /
    TFRecordCodec.scala): UTF-8 document payloads framed with masked
    CRC-32C, written one file per partition, decoded back with checksum
    verification. Per-record byte length + sha256 prove payload fidelity."""
    from scio_spark.sources import formats as Fmt

    path = _rt_path(sf_dir, "tfrecord")
    sc = _ctx(spark)
    d = (
        _t(sc, sf_dir, "documents")
        .df.filter("doc_id % 5 = 0")
        .select(F.encode("text", "UTF-8").alias("payload"))
    )
    Fmt.save_as_tfrecord(d, "payload", path)
    back = Fmt.read_tfrecord(spark, path)
    return back.select(
        F.length("record").cast("long").alias("n_bytes"),
        F.sha2(F.col("record"), 256).alias("sha"),
    )


ORACLE_TFRECORD_ROUNDTRIP = """
SELECT CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha
FROM documents WHERE doc_id % 5 = 0
"""


def q_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed binary sink+source round-trip (scio-core io/BinaryIO.scala:
    header ⧺ [u32-LE length][payload]* ⧺ footer, executor-side writes):
    decoded records compared string-exact against the source column."""
    from scio_spark.sources import formats as Fmt

    path = _rt_path(sf_dir, "binary")
    sc = _ctx(spark)
    part = (
        _t(sc, sf_dir, "part")
        .df.filter("p_partkey % 4 = 0")
        .select(F.encode("p_name", "UTF-8").alias("payload"))
    )
    Fmt.save_as_binary_file(part, "payload", path, header=b"SCIO", footer=b"END")
    back = Fmt.read_binary_file(spark, path, header=b"SCIO", footer=b"END")
    return back.select(F.decode("record", "UTF-8").alias("record_text"))


ORACLE_BINARY_ROUNDTRIP = """
SELECT p_name AS record_text FROM part WHERE p_partkey % 4 = 0
"""


def q_object_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-file round-trip (scio-avro ObjectFileIO analog: pickled
    payloads in a binary parquet column, formats.object_file_df): the
    opaque column is unpickled back and must equal the original values."""
    import pickle

    from scio_spark.sources import formats as Fmt

    path = _rt_path(sf_dir, "object")
    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").df.select("n_nationkey", "n_name")
    Fmt.object_file_df(n, ["n_name"], path)
    back = spark.read.parquet(path)
    unpickle = F.udf(lambda b: pickle.loads(bytes(b)), "string")
    return back.select(
        "n_nationkey", unpickle(F.col("n_name")).alias("n_name")
    )


ORACLE_OBJECT_ROUNDTRIP = """
SELECT n_nationkey, n_name FROM nation
"""


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink+source round-trip (scio-jdbc jdbcSelect / saveAsJdbc)
    through the embedded Derby driver Spark bundles — the test-env stand-in
    for a networked warehouse URL (same code path; a cluster deployment
    swaps the URL and raises num_partitions for parallel reads with
    partitionColumn bounds)."""
    # Embedded Derby takes an exclusive JVM boot lock on its directory;
    # the round-trip root is per process, so concurrent sessions (e.g. the
    # oracle gate and a plan audit) never share one.
    path = _rt_path(sf_dir, "derby")
    url = f"jdbc:derby:{path};create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    sc = _ctx(spark)
    sup = (
        _t(sc, sf_dir, "supplier")
        .df.filter("s_suppkey % 3 = 0")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )
    sc.custom_input("jdbc_rt_in", sup).save_as_jdbc(
        url, "supplier_rt", num_partitions=1, driver=drv
    )
    back = sc.jdbc(url, "supplier_rt", driver=drv).df
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_bal"),
    )


ORACLE_JDBC_ROUNDTRIP = """
SELECT s_nationkey, COUNT(*) AS n_suppliers,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+source round-trip (Spark 4 native spark-xml; bonus IO over
    the reference's JSON-only semi-structured story). Explicit read schema
    pins the original column types against XML's infer-everything-as-long."""
    path = _rt_path(sf_dir, "xml")
    sc = _ctx(spark)
    c = (
        _t(sc, sf_dir, "customer")
        .df.filter("c_custkey % 6 = 0")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    )
    sc.custom_input("xml_rt_in", c).save_as_xml_file(path)
    back = sc.xml_file(
        path, schema="c_custkey long, c_nationkey int, c_mktsegment string"
    ).df
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_nationkey").alias("sum_nation"),
    )


ORACLE_XML_ROUNDTRIP = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
FROM customer WHERE c_custkey % 6 = 0 GROUP BY c_mktsegment
"""


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink+source round-trip (scio-avro AvroIO.scala avroFile /
    saveAsAvroFile — the reference's most-used IO module). Uses the repo's
    pure-Python object-container codec (sources/avro.py; deflate blocks,
    logical types), which tests/test_avro.py proves wire-compatible with
    the JVM Avro library in both directions. The read goes through
    ScioContext.avro_file (spark-avro fast path when the jar exists, native
    codec fallback here). o_orderdate exercises the timestamp logical-type
    path end-to-end; the o_totalprice sum is decimal-staged."""
    from scio_spark.sources.avro import save_as_avro

    path = _rt_path(sf_dir, "avro")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "orders")
        .df.filter("o_orderkey % 12 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    save_as_avro(sub, path)
    back = sc.avro_file(path).df
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_total"),
        F.max("o_orderdate").alias("max_date"),
    )


ORACLE_AVRO_ROUNDTRIP = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
       MAX(o_orderdate) AS max_date
FROM orders WHERE o_orderkey % 12 = 0 GROUP BY o_orderstatus
"""


def q_tfexample_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf.Example TFRecord sink+source round-trip (scio-tensorflow
    TFExampleIO.scala saveAsTfExampleFile / tfRecordExampleFile — the
    training-data export format). Rows become tf.Example protobufs via the
    pure-Python wire codec (sources/proto.py, spec-golden-byte tested)
    inside CRC32C-framed TFRecord files; the read decodes them back through
    a feature spec, as TF readers do. Long/string/array<long> columns only:
    FloatList is float32 on the wire (feature.proto), so doubles would
    narrow — pinned separately in tests/test_proto.py."""
    from scio_spark.functions.text import token_count
    from scio_spark.sources.proto import read_tf_example, save_as_tf_example

    path = _rt_path(sf_dir, "tfexample")
    sc = _ctx(spark)
    d = (
        _t(sc, sf_dir, "documents")
        .df.filter("doc_id % 7 = 0")
        .select(
            "doc_id",
            "source",
            F.length("text").cast("long").alias("n_chars"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
    )
    save_as_tf_example(d, path)
    back = read_tf_example(
        spark, path, "doc_id long, source string, n_chars long, n_tokens long"
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


ORACLE_TFEXAMPLE_ROUNDTRIP = r"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                x -> x <> ''))) AS BIGINT) AS sum_tokens
FROM documents WHERE doc_id % 7 = 0 GROUP BY source
"""


def q_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf-file sink+source round-trip (scio-avro ProtobufIO.scala
    protobufFile / saveAsProtobufFile). Matches scio's on-disk layout:
    message bytes wrapped in Avro object-container records (sources/avro.py
    carries the container; sources/proto.py the wire format). The field
    spec plays the role of the message descriptor."""
    from scio_spark.sources.proto import read_protobuf_file, save_as_protobuf_file

    path = _rt_path(sf_dir, "protobuf")
    spec = {
        1: ("p_partkey", "int64", False),
        2: ("p_brand", "string", False),
        3: ("p_retailprice", "double", False),
    }
    sc = _ctx(spark)
    p = (
        _t(sc, sf_dir, "part")
        .df.filter("p_partkey % 5 = 0")
        .select("p_partkey", "p_brand", "p_retailprice")
    )
    save_as_protobuf_file(p, path, spec)
    back = read_protobuf_file(
        spark, path, spec, "p_partkey long, p_brand string, p_retailprice double"
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


ORACLE_PROTOBUF_ROUNDTRIP = """
SELECT p_brand, COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM part WHERE p_partkey % 5 = 0 GROUP BY p_brand
"""


def q_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) sink+source round-trip
    (sources/arrow_ipc.py — the zero-copy interchange format Python
    training stacks read natively; pyarrow owns the wire bytes, the module
    owns the one-file-per-task distribution). zstd buffer compression;
    customer subset re-aggregated against the parquet truth."""
    from scio_spark.sources.arrow_ipc import read_arrow_ipc, save_as_arrow_ipc

    path = _rt_path(sf_dir, "arrow_ipc")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "customer")
        .df.filter("c_custkey % 4 = 0")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    save_as_arrow_ipc(sub, path)
    back = read_arrow_ipc(spark, path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_bal"),
    )


ORACLE_ARROW_ROUNDTRIP = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
FROM customer WHERE c_custkey % 4 = 0 GROUP BY c_mktsegment
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned MERGE INTO on a plain-parquet table
    (operators/merge.py — the table-format-less upsert primitive that
    maintain_rollup's continuous upsert also calls): target = orders
    partitioned by o_orderstatus; the source updates every 100th order's
    price and inserts new orders into a brand-new partition. Only touched
    partitions are rewritten (pinned byte-identical in
    tests/test_merge.py); the oracle reconstructs the merged state in SQL
    (source ∪ unmatched target) and must agree value-exact."""
    import shutil

    from scio_spark.operators.merge import merge_into

    path = _rt_path(sf_dir, "merge_target")
    shutil.rmtree(path, ignore_errors=True)
    sc = _ctx(spark)
    orders = _t(sc, sf_dir, "orders").df.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.partitionBy("o_orderstatus").parquet(path)
    updates = orders.filter("o_orderkey % 100 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    inserts = orders.filter("o_orderkey % 250 = 0").select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("X").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    merge_into(
        path,
        updates.unionByName(inserts),
        keys=["o_orderkey"],
        partition_col="o_orderstatus",
    )
    merged = spark.read.parquet(path)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_total"),
    )


ORACLE_MERGE_UPSERT = """
WITH src AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT -o_orderkey, 'X', 1.0 FROM orders WHERE o_orderkey % 250 = 0
),
keep AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
),
merged AS (SELECT * FROM src UNION ALL SELECT * FROM keep)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
FROM merged GROUP BY o_orderstatus
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering (beyond-reference scale operator;
    functions/layout.py): events clustered along the Morton curve of
    (user_id, hour-of-ts) and rewritten, so parquet min/max footers prune
    point/range predicates on BOTH columns (measured vs a linear sort in
    tests/test_layout.py). The oracle pins losslessness: the clustered
    table must aggregate identically to the source."""
    import shutil

    from scio_spark.functions.layout import zorder_by

    path = _rt_path(sf_dir, "zorder_events")
    shutil.rmtree(path, ignore_errors=True)
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df.withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    zorder_by(ev, ["user_id", "hour"], n_partitions=8).write.parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("user_id") % 1000).alias("checksum"),
    )


ORACLE_ZORDER_LAYOUT = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(user_id % 1000) AS BIGINT) AS checksum
FROM events GROUP BY event_type
"""


def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard sink+source round-trip (beyond-reference
    multimodal training-data IO; sources/webdataset.py): documents become
    {doc_id}.txt/{doc_id}.cls members in per-task tar shards — the format
    the torch/webdataset loaders stream — then read back key-grouped and
    re-aggregated. Tar bytes come from stdlib tarfile; this query pins the
    distributed write→group→read path against the parquet truth."""
    from scio_spark.sources.webdataset import read_webdataset, save_as_webdataset

    path = _rt_path(sf_dir, "webdataset")
    sc = _ctx(spark)
    d = (
        _t(sc, sf_dir, "documents")
        .df.filter("doc_id % 9 = 0")
        .select(F.col("doc_id").cast("string").alias("key"), "text", "source")
    )
    save_as_webdataset(d, path, "key", {"text": "txt", "source": "cls"})
    back = read_webdataset(
        spark, path, {"text": "txt", "source": "cls"}, text_cols={"text", "source"}
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


ORACLE_WEBDATASET_ROUNDTRIP = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 9 = 0 GROUP BY source
"""


def q_files_with_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readFilesWithPath provenance (FileSCollectionFunctions.scala /
    SCollection.scala:1372-1503 readFiles family): documents written to
    per-source text files (dynamic destinations layout), read back with
    input_file_name() provenance, source recovered FROM THE PATH and
    counted — value-exact against the original table's source column."""
    path = _rt_path(sf_dir, "bysource")
    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df.select(
        F.col("text").alias("value"), "source"
    )
    d.write.mode("overwrite").partitionBy("source").text(path)
    back = sc.text_files_with_path(f"{path}/*/").df
    return (
        back.select(
            F.regexp_extract("path", r"source=([^/]+)/", 1).alias("source")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_FILES_WITH_PATH = """
SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
"""


def q_dynamic_destinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic destinations round-trip (scio-core io/dynamic/: per-record
    output path from record fields → Spark-native partitionBy, hive-style
    layout). The read-back filter on the partition column is satisfied by
    directory pruning — no data files outside the matching partitions are
    touched."""
    from scio_spark.sources import formats as Fmt

    path = _rt_path(sf_dir, "dynamic")
    sc = _ctx(spark)
    sub = (
        _t(sc, sf_dir, "orders")
        .df.filter("o_orderkey % 16 = 0")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    Fmt.save_dynamic(sub, path, ["o_orderpriority"])
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_total"),
    )


ORACLE_DYNAMIC_DESTINATIONS = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_orderkey % 16 = 0 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators/merge.py snapshot_diff): yesterday's
    documents vs a deterministic "today" (1-in-17 removed, 1-in-13 edited,
    1-in-29 re-crawled under new ids) — one full-outer join on the id with
    md5 content equality; the audit step between MERGE runs and the input
    to incremental recomputes."""
    from scio_spark.operators.merge import snapshot_diff

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "text")
    new = docs.filter("doc_id % 17 != 0").withColumn(
        "text",
        F.when(F.expr("doc_id % 13 = 0"), F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    ).unionByName(
        docs.filter("doc_id % 29 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    diff = snapshot_diff(docs, new, "doc_id", compare_cols=["text"])
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


ORACLE_SNAPSHOT_DIFF = """
WITH n AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 29 = 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text = n.text THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM documents o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM j
GROUP BY 1
"""


def q_compact_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/merge.py compact_parquet): a
    40-file fragmented copy of orders is rewritten to byte-targeted file
    count and atomically swapped (rename-aside, crash-recoverable). The
    query proves content preservation — the read-back aggregate must
    equal the oracle's aggregate over the pristine source."""
    from scio_spark.operators.merge import compact_parquet

    path = _rt_path(sf_dir, "compact")
    sc = _ctx(spark)
    src = _t(sc, sf_dir, "orders").df.filter("o_orderkey % 4 = 0").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src.repartition(40).write.mode("overwrite").parquet(path)
    compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


ORACLE_COMPACT_TABLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderkey % 4 = 0
GROUP BY 1
"""
