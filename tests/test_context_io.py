"""ScioContext IO surface: readers/writers, round-trips, materialize/taps,
union_all — mirrors the reference's IO tap tests (io/Tap.scala, TextTap)."""

import pytest
from pyspark.sql import functions as F

from scio_spark import ScioContext
from tests.conftest import rows


@pytest.fixture()
def ctx(spark):
    return ScioContext(spark)


def test_text_roundtrip(ctx, tmp_path):
    path = str(tmp_path / "txt")
    c = ctx.parallelize(["line one", "line two"])
    c.save_as_text_file(path)
    back = ctx.text_file(path)
    assert sorted(r[0] for r in back.collect()) == ["line one", "line two"]


def test_csv_roundtrip_with_schema(ctx, tmp_path):
    path = str(tmp_path / "csv")
    c = ctx.parallelize([(1, "a"), (2, "b")], schema=["id", "name"])
    c.save_as_csv_file(path)
    back = ctx.csv_file(path, schema="id int, name string")
    assert rows(back.df) == [(1, "a"), (2, "b")]


def test_parquet_merge_schema_reads_evolved_lake(ctx, tmp_path):
    """Schema-drifted parquet directories (a writer added a column over
    time) read coherently under merge_schema: old files surface the new
    column as NULL."""
    path = str(tmp_path / "lake")
    ctx.parallelize([(1, "a")], schema=["id", "v"]).df.write.parquet(
        f"{path}/day=1"
    )
    ctx.parallelize(
        [(2, "b", 9.5)], schema=["id", "v", "score"]
    ).df.write.parquet(f"{path}/day=2")
    back = ctx.parquet_file(path, merge_schema=True).df
    got = {(r.id, r.v, r.score) for r in back.select("id", "v", "score").collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}


def test_orc_roundtrip_with_pushdown(ctx, tmp_path):
    path = str(tmp_path / "orc")
    c = ctx.parallelize(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)],
        schema=["id", "grp", "v"],
    )
    c.save_as_orc_file(path)
    back = ctx.orc_file(path)
    assert sorted(rows(back.df)) == [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)]
    # ORC scans take pushed filters like parquet — assert the plan shows it
    plan = (
        back.df.filter("id > 1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters")[1][:80]


def test_json_roundtrip(ctx, tmp_path):
    path = str(tmp_path / "json")
    c = ctx.parallelize([(1, [1, 2]), (2, [3])], schema=["id", "vals"])
    c.save_as_json_file(path)
    back = ctx.json_file(path, schema="id long, vals array<long>")
    got = {r["id"]: r["vals"] for r in back.collect()}
    assert got == {1: [1, 2], 2: [3]}


def test_parquet_partitioned_write(ctx, tmp_path):
    import os

    path = str(tmp_path / "pq")
    c = ctx.parallelize([("a", 1), ("b", 2)], schema=["part", "v"])
    c.save_as_parquet(path, partition_by=["part"])
    assert any(d.startswith("part=") for d in os.listdir(path))
    assert ctx.parquet_file(path).count() == 2


def test_binary_file_source(ctx, tmp_path):
    p = tmp_path / "blob.bin"
    p.write_bytes(b"\x00\x01payload")
    coll = ctx.binary_file(str(tmp_path))
    r = coll.df.collect()[0]
    assert bytes(r["content"]) == b"\x00\x01payload" and r["length"] == 9


def test_materialize_and_taps(ctx):
    c = ctx.parallelize([1, 2, 3]).map(doubled="value * 2")
    c.materialize("tap_doubled")
    result = ctx.run()
    tapped = result.tap("tap_doubled")
    assert sorted(r[0] for r in tapped.collect()) == [2, 4, 6]
    # re-openable via SQL (temp view), like reopening a Tap in a later job
    assert ctx.spark.sql("SELECT SUM(doubled) s FROM tap_doubled").collect()[0]["s"] == 12
    assert result.state == "DONE"


def test_union_all_context(ctx):
    a = ctx.parallelize([1])
    b = ctx.parallelize([2])
    c = ctx.parallelize([1])
    assert sorted(r[0] for r in ctx.union_all([a, b, c]).collect()) == [1, 1, 2]


def test_sql_entry_point(ctx):
    ctx.parallelize([(1,), (2,)], schema=["x"]).df.createOrReplaceTempView("sql_t")
    out = ctx.sql("SELECT SUM(x) AS s FROM sql_t")
    assert out.collect()[0]["s"] == 3


def test_table_loader_sf_dir(ctx):
    nation = ctx.table("nation", sf_dir="/root/testdata/sf0.001")
    assert nation.count() == 25


def test_write_capture_under_test_mode(spark):
    ctx = ScioContext(spark, test_inputs={"parquet:in": [(1,), (2,)]})
    data = ctx.parquet_file("ignored", io_id="parquet:in")
    data.save_as_parquet("/nonexistent/should/not/write", io_id="parquet:out")
    assert "parquet:out" in ctx.test_outputs
    assert ctx.test_outputs["parquet:out"].count() == 2


def test_metrics_counters_and_distributions(spark):
    """Job metrics (ScioResult counters/distributions analog) via observe —
    no extra pass over the data."""
    from pyspark.sql import functions as F

    from scio_spark.metrics import Metrics

    df = spark.createDataFrame([(1, 10.0), (2, None), (3, 30.0)], ["id", "price"])
    m = Metrics()
    df = m.count(df, "rows")
    df = m.count(df, "priced_rows", F.col("price").isNotNull())
    df = m.distribution(df, "price", F.col("price"))
    df.write.format("noop").mode("overwrite").save()  # one action drives all
    assert m.get("rows") == 3
    assert m.get("priced_rows") == 2
    dist = m.get("price")
    assert dist["min"] == 10.0 and dist["max"] == 30.0 and dist["count"] == 2


def test_custom_input_output(spark, tmp_path):
    from scio_spark import ScioContext

    # real mode: custom input wraps any DataFrame; custom output runs writer
    ctx = ScioContext(spark)
    df = spark.range(3).toDF("x")
    c = ctx.custom_input("custom:src", df)
    written = {}
    c.save_as_custom_output("custom:sink", lambda d: written.update(n=d.count()))
    assert written == {"n": 3}
    # test mode: both substituted
    t = ScioContext(spark, test_inputs={"custom:src": [(9,)]})
    c2 = t.custom_input("custom:src", df)
    c2.save_as_custom_output("custom:sink", lambda d: (_ for _ in ()).throw(AssertionError))
    assert t.test_outputs["custom:sink"].collect()[0][0] == 9


def test_binary_file_framed_roundtrip(spark, tmp_path):
    from scio_spark.sources.formats import read_binary_file, save_as_binary_file

    data = [(i, bytes([i]) * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(data, ["id", "payload"]).repartition(4)
    out = str(tmp_path / "framed")
    manifest = save_as_binary_file(
        df, "payload", out, header=b"SCIO", footer=b"END"
    )
    assert sum(m["n_records"] for m in manifest) == 20
    back = read_binary_file(spark, out, header=b"SCIO", footer=b"END")
    got = sorted(bytes(r["record"]) for r in back.collect())
    assert got == sorted(p for _, p in data)


def test_xml_roundtrip(sc, tmp_path):
    """Spark-4-native XML sink+source; explicit schema pins int types
    against XML's infer-as-long."""
    t = sc.parallelize([(1, "a&b"), (2, "<c>")], schema=["k", "v"])
    out = str(tmp_path / "xml")
    t.save_as_xml_file(out)
    back = sc.xml_file(out, schema="k int, v string")
    assert sorted(tuple(r) for r in back.df.collect()) == [(1, "a&b"), (2, "<c>")]


def test_jdbc_roundtrip_embedded_derby(sc, tmp_path):
    """saveAsJdbc / jdbcSelect through the Derby jar Spark bundles —
    overwrite mode must replace the table on re-run."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    t = sc.parallelize([(1, "a"), (2, "b")], schema=["k", "v"])
    t.save_as_jdbc(url, "kv", num_partitions=1, driver=drv)
    t.save_as_jdbc(url, "kv", num_partitions=1, driver=drv)
    back = sc.jdbc(url, "kv", driver=drv)
    assert sorted(tuple(r) for r in back.df.collect()) == [(1, "a"), (2, "b")]


def test_binary_file_overwrite_on_rerun(spark, tmp_path):
    """Task files are uuid-named; a re-run must REPLACE the dataset, not
    append to it (bench runs every query cold+warm)."""
    from scio_spark.sources.formats import read_binary_file, save_as_binary_file

    df = spark.createDataFrame([(bytes([i]),) for i in range(7)], ["payload"])
    out = str(tmp_path / "framed_rerun")
    save_as_binary_file(df, "payload", out)
    save_as_binary_file(df, "payload", out)
    back = read_binary_file(spark, out)
    assert back.count() == 7


def test_sql_entry_point(sc):
    """ScioContext.sql: named inputs become temp views for the query's
    duration only; result plan is ordinary Catalyst."""
    t = sc.parallelize([("a", 1), ("a", 2), ("b", 5)], schema=["k", "v"])
    out = sc.sql("SELECT k, SUM(v) AS s FROM t GROUP BY k", t=t)
    assert sorted(tuple(r) for r in out.df.collect()) == [("a", 3), ("b", 5)]
    assert "t" not in [tb.name for tb in sc.spark.catalog.listTables()]
    # mixing: SQL over two named inputs
    u = sc.parallelize([("a", "x")], schema=["k", "w"])
    j = sc.sql("SELECT t.k, v, w FROM t JOIN u USING (k)", t=t, u=u)
    assert sorted(tuple(r) for r in j.df.collect()) == [("a", 1, "x"), ("a", 2, "x")]


def test_sql_restores_preexisting_temp_view(sc):
    """sql(**tables) must not clobber a user's same-named temp view: the
    prior view is snapshotted and re-registered after the query."""
    prior = sc.spark.createDataFrame([(99,)], ["orig"])
    prior.createOrReplaceTempView("t")
    try:
        t = sc.parallelize([("a", 1)], schema=["k", "v"])
        out = sc.sql("SELECT k, v FROM t", t=t)
        assert [tuple(r) for r in out.df.collect()] == [("a", 1)]
        # the user's view is back, with its original contents
        assert [tuple(r) for r in sc.spark.table("t").collect()] == [(99,)]
    finally:
        sc.spark.catalog.dropTempView("t")


def test_fluent_io_new_formats(spark, tmp_path):
    """Round-trip every round-5 sink/source pair through the fluent
    SCollection/ScioContext surface (the API a reference user would call),
    including JobTest io_id capture-ability via the default ids."""
    from scio_spark import ScioContext

    ctx = ScioContext(spark)
    df = spark.range(40).selectExpr(
        "id", "concat('n', id) AS name", "CAST(id * 0.5 AS DOUBLE) AS score"
    )
    c = ctx.custom_input("fluent:src", df)

    d = str(tmp_path / "avro")
    c.save_as_avro_file(d)
    assert ctx.avro_file(d).df.count() == 40

    d = str(tmp_path / "tfex")
    c.save_as_tf_example_file(d)
    back = ctx.tf_example_file(d, "id long, name string, score double").df
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    d = str(tmp_path / "wds")
    ctx.custom_input(
        "fluent:wds", df.selectExpr("CAST(id AS STRING) AS key", "name")
    ).save_as_webdataset(d, "key", {"name": "txt"})
    assert ctx.webdataset_file(d, {"name": "txt"}, text_cols={"name"}).df.count() == 40

    d = str(tmp_path / "arrow")
    c.save_as_arrow_file(d)
    assert ctx.arrow_file(d).df.schema == df.schema
    assert ctx.arrow_file(d).df.count() == 40


def test_file_listing_fans_out_at_most_one_task_per_core(spark, tmp_path):
    """Past Spark's 32-path threshold, file listing runs as a distributed
    job; build_session caps its fan-out at the session's cores instead of
    one task per path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(40):
        paths.append(str(tmp_path / f"part-{i:02d}.parquet"))
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), paths[-1])
    sc = spark.sparkContext
    group = f"listing-{tmp_path.name}"
    sc.setJobGroup(group, "read 40 paths")
    try:
        n = spark.read.schema("id long").parquet(*paths).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 40
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks  # the listing and the count ran under the group
    assert max(tasks) <= sc.defaultParallelism, tasks
