"""Enrichment ops, side inputs, JobTest harness, IO formats, multimodal."""

import pytest
from pyspark.sql import functions as F

from scio_spark.operators import enrich as E
from tests.conftest import rows


def test_side_input_singleton_and_map(spark):
    one = spark.createDataFrame([(42,)], ["v"])
    bc = E.side_input_singleton(one)
    assert bc.value == 42
    kv = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    assert E.side_input_map(kv, "k", "v").value == {"a": 1, "b": 2}
    dup = spark.createDataFrame([("a", 1), ("a", 2)], ["k", "v"])
    with pytest.raises(ValueError):
        E.side_input_map(dup, "k", "v")
    assert E.side_input_multimap(dup, "k", "v").value == {"a": [1, 2]}


def test_side_input_builders_guard_oversized_inputs(spark):
    """Side inputs are driver-sized by contract; an oversized build must
    raise actionably (require_side_input_sized) instead of collecting."""
    big = spark.range(50).selectExpr("id AS k", "id AS v")
    for build in (
        lambda: E.side_input_list(big, max_rows=10),
        lambda: E.side_input_set(big.select("k"), max_rows=10),
        lambda: E.side_input_map(big, "k", "v", max_rows=10),
        lambda: E.side_input_multimap(big, "k", "v", max_rows=10),
    ):
        with pytest.raises(ValueError, match="side input"):
            build()
    # under the cap everything still builds
    assert len(E.side_input_list(big, max_rows=50).value) == 50


def test_side_input_builders_guard_wide_rows_by_bytes(spark):
    """Row caps alone let a wide-row side input bloat the driver: a few
    rows of megabyte strings must trip the BYTE budget even though the
    row count is legal (VERDICT r12: byte-budget the side-input caps)."""
    wide = spark.range(4).selectExpr(
        "id AS k", "repeat('x', 1024 * 1024) AS v"  # ~1 MiB per row
    )
    for build in (
        lambda: E.side_input_list(wide, max_rows=100, max_bytes=1 << 20),
        lambda: E.side_input_set(wide.select("v"), max_rows=100, max_bytes=1 << 20),
        lambda: E.side_input_map(wide, "k", "v", max_rows=100, max_bytes=1 << 20),
        lambda: E.side_input_multimap(wide, "k", "v", max_rows=100, max_bytes=1 << 20),
    ):
        with pytest.raises(ValueError, match="byte budget"):
            build()
    # a binary/nested-typed input is also byte-counted
    blob = spark.range(3).selectExpr(
        "id AS k", "CAST(repeat('y', 2097152) AS BINARY) AS v",
        "array(repeat('z', 100)) AS a",
    )
    with pytest.raises(ValueError, match="byte budget"):
        E.side_input_list(blob, max_rows=100, max_bytes=1 << 20)
    # within budget still builds
    assert len(E.side_input_list(wide, max_rows=100, max_bytes=1 << 30).value) == 4


def test_side_input_byte_budget_extrapolates_beyond_sample(spark):
    """Past SIDE_INPUT_BYTE_SAMPLE rows the byte check estimates from the
    head sample instead of scanning every row (full-width octet_length/
    to_json over millions of side-input rows per build is the r13-ADVICE
    regression); the extrapolated estimate must still trip the budget."""
    from scio_spark.functions.retrieval import (
        SIDE_INPUT_BYTE_SAMPLE,
        require_side_input_sized,
    )

    n = SIDE_INPUT_BYTE_SAMPLE * 2
    wide = spark.range(n).selectExpr("id AS k", "repeat('x', 4096) AS v")
    with pytest.raises(ValueError, match="byte budget"):
        # ~4 KiB/row * 8192 rows ≈ 32 MiB estimated >> 1 MiB budget
        require_side_input_sized(wide, n, "test", "max_rows", max_bytes=1 << 20)
    # generous budget passes without scanning past the sample
    require_side_input_sized(wide, n, "test", "max_rows", max_bytes=1 << 30)
    # a modest input under a large cap is summed exactly (the first
    # 2*SIDE_INPUT_BYTE_SAMPLE rows always are), so one ~2 MiB row among
    # thousands of narrow ones trips the budget instead of being missed
    # by a sample sized from the cap
    skewed = spark.range(n).selectExpr(
        "id AS k", "IF(id = 4321, repeat('x', 2 << 20), 'x') AS v"
    )
    with pytest.raises(ValueError, match="byte budget"):
        require_side_input_sized(
            skewed, 10_000_000, "test", "max_rows", max_bytes=1 << 20
        )


def test_with_side_input(spark):
    df = spark.createDataFrame([(1,), (2,)], ["x"])
    bc = spark.sparkContext.broadcast(10)

    def add(pdf, side):
        pdf["x"] = pdf["x"] + side
        return pdf

    out = E.with_side_input(df, bc, add, "x long")
    assert rows(out) == [(11,), (12,)]


def test_safe_map_partitions_error_channel(spark):
    df = spark.createDataFrame([(1,), (0,), (4,)], ["x"])

    def inv(rec):
        return {"y": 100 // rec["x"]}

    ok, errors = E.safe_map_partitions(df, inv, "y long")
    assert sorted(r["y"] for r in ok.collect()) == [25, 100]
    errs = errors.collect()
    assert len(errs) == 1 and "ZeroDivisionError" in errs[0]["error"]


def test_pipe_subprocess(spark):
    df = spark.createDataFrame([("hello",), ("world",)], ["value"])
    out = E.pipe(df, "tr a-z A-Z")
    assert rows(out) == [("HELLO",), ("WORLD",)]


def test_map_with_resource(spark):
    df = spark.createDataFrame([(1,), (2,)], ["x"])
    log = []

    def mk():
        return {"factor": 3}

    def use(res, pdf):
        pdf["x"] = pdf["x"] * res["factor"]
        return pdf

    out = E.map_with_resource(df, mk, use, "x long")
    assert rows(out) == [(3,), (6,)]


def test_async_lookup(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])

    async def lookup(chunk):
        return [{"x": r["x"], "doubled": r["x"] * 2} for r in chunk]

    out = E.async_lookup(df, lookup, "x long, doubled long", batch_size=3)
    got = dict(rows(out))
    assert got == {i: i * 2 for i in range(10)}


def test_dist_cache(spark, tmp_path):
    p = tmp_path / "lookup.txt"
    p.write_text("cached-content")
    get = E.dist_cache(spark, str(p))
    df = spark.createDataFrame([(1,)], ["x"])

    def gen(batches):
        with open(get()) as f:
            content = f.read()
        for pdf in batches:
            pdf["content"] = content
            yield pdf

    out = df.mapInPandas(gen, "x long, content string")
    assert out.collect()[0]["content"] == "cached-content"


# ------------------------------------------------------------------ JobTest


def test_jobtest_swaps_io(spark):
    from scio_spark.sources.registry import JobTest

    def wordcount_job(ctx):
        lines = ctx.text_file("gs://bucket/in.txt", io_id="text:in")
        counts = (
            lines.flat_map(F.split(F.col("value"), r"\s+"), alias="word")
            .filter("word != ''")
            .map("word")
            .count_by_value()
        )
        counts.save_as_text_file("gs://bucket/out.txt", io_id="text:out")
        return counts

    result = (
        JobTest(wordcount_job)
        .input("text:in", ["a b c", "a b", ""])
        .run(spark)
    )
    captured = result.output("text:out")
    got = dict((r[0], r[1]) for r in captured.collect())
    assert got == {"a": 2, "b": 2, "c": 1}


# ---------------------------------------------------------------- formats


def test_object_file_roundtrip(spark, tmp_path):
    from scio_spark.sources import formats as FM

    objs = [{"a": 1}, [1, 2, 3], ("x", 4.5), "plain"]
    path = str(tmp_path / "objs")
    FM.save_as_object_file(spark, objs, path)
    assert FM.read_object_file(spark, path) == objs
    # driver-sized contract: an over-cap file fails actionably, no collect
    import pytest

    with pytest.raises(ValueError, match="collected to the driver"):
        FM.read_object_file(spark, path, max_rows=2)


def test_object_file_df_pickles_columns(spark, tmp_path):
    """object_file_df (Arrow-batched pickle path) keeps scalar columns
    queryable and round-trips the pickled ones byte-exactly."""
    import pickle

    from scio_spark.sources import formats as FM

    path = str(tmp_path / "objdf")
    df = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(100)], "id long, blob string"
    )
    FM.object_file_df(df, ["blob"], path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["blob"] == "binary"
    rows = {r.id: pickle.loads(bytes(r.blob)) for r in back.collect()}
    assert rows == {i: f"name-{i}" for i in range(100)}


def test_tfrecord_codec_roundtrip():
    from scio_spark.sources import formats as FM

    recs = [b"one", b"", b"three" * 100]
    blob = FM.tfrecord_encode(recs)
    assert FM.tfrecord_decode(blob) == recs
    # corrupt a payload byte → checksum failure
    bad = bytearray(blob)
    bad[14] ^= 0xFF
    with pytest.raises(ValueError):
        FM.tfrecord_decode(bytes(bad))


def test_tfrecord_spark_roundtrip(spark, tmp_path):
    from scio_spark.sources import formats as FM

    df = spark.createDataFrame(
        [(i, f"payload-{i}".encode()) for i in range(20)], "i long, payload binary"
    )
    path = str(tmp_path / "tfr")
    FM.save_as_tfrecord(df, "payload", path)
    back = FM.read_tfrecord(spark, path)
    got = sorted(bytes(r["record"]) for r in back.collect())
    assert got == sorted(f"payload-{i}".encode() for i in range(20))


def test_dynamic_destinations(spark, tmp_path):
    import os

    from scio_spark.sources import formats as FM

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], ["part", "v"]
    )
    path = str(tmp_path / "dyn")
    FM.save_dynamic(df, path, ["part"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("part=")
    ) == ["part=a", "part=b"]
    back = spark.read.parquet(path)
    assert back.filter("part = 'a'").count() == 2


def test_zstd_dict_gated(spark):
    from scio_spark.sources import formats as FM

    df = spark.createDataFrame([(b"x" * 100,)], "payload binary")
    with pytest.raises(NotImplementedError):
        FM.train_zstd_dictionary(df, "payload")


# -------------------------------------------------------------- multimodal


def test_multimodal_schema_and_stats(spark):
    from scio_spark.functions import multimodal as M

    assets = M.synthetic_assets(spark, n=32)
    stats = M.content_stats(assets)
    r = stats.filter("asset_id = 0").collect()[0]
    assert r["n_bytes"] == len(bytes(r["content"])) and len(r["digest"]) == 64
    # exact-dup detection on digests: all synthetic payloads unique
    assert stats.select("digest").distinct().count() == 32


def test_multimodal_decode_stub_and_strict(spark):
    import numpy as np

    from scio_spark.functions import multimodal as M
    from scio_spark.functions.codecs import encode_png

    assets = M.synthetic_assets(spark, n=8)
    feats = M.decode_image_features(assets.filter("modality = 'image'"))
    got = feats.collect()
    # synthetic payloads are opaque ASCII bytes → the fake tier
    assert all(r["decoder"] == "fake" and r["width"] >= 64 for r in got)
    # deterministic across runs
    again = {r["asset_id"]: r["width"] for r in M.decode_image_features(
        assets.filter("modality = 'image'")).collect()}
    assert again == {r["asset_id"]: r["width"] for r in got}
    # payloads the repo's REAL codecs identify route to them, not the fake
    png = encode_png(np.full((4, 6, 3), 100, np.uint8))
    real = spark.createDataFrame(
        [(1, bytearray(png))], "asset_id long, content binary"
    )
    r = M.decode_image_features(real).head()
    assert r["decoder"] == "png" and (r["width"], r["height"]) == (6, 4)
    assert abs(r["mean_luma"] - 100 / 255) < 1e-9
    if not M.HAS_PIL:
        # strict = never fake: undecodable rows raise at execution
        with pytest.raises(Exception, match="not decodable"):
            M.decode_image_features(assets, strict=True).collect()
        M.decode_image_features(real, strict=True).collect()  # fine


def test_frame_sample_plan(spark):
    from scio_spark.functions import multimodal as M

    assets = M.synthetic_assets(spark, n=9).filter("modality = 'video'")
    plan = M.frame_sample_plan(assets, every_ms=1000)
    counts = {r["asset_id"]: r["n"] for r in plan.groupBy("asset_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    durations = {r["asset_id"]: r["meta"]["duration_ms"] for r in assets.collect()}
    for aid, n in counts.items():
        assert n == (durations[aid] - 1) // 1000 + 1


def test_side_outputs_one_pass_fanout(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    outs = E.side_outputs(df, {"even": "x % 2 = 0", "big": "x >= 7", "neg": "x < 0"})
    assert outs["even"].count() == 5
    assert outs["big"].count() == 3
    assert outs["neg"].count() == 0
    # overlapping tags both receive the row (multi-emit semantics)
    assert 8 in [r["x"] for r in outs["even"].collect()]
    assert 8 in [r["x"] for r in outs["big"].collect()]


def test_read_files_text_and_binary(spark, tmp_path):
    (tmp_path / "f1.txt").write_text("alpha\nbeta\n")
    (tmp_path / "f2.txt").write_text("gamma\n")
    paths = [str(tmp_path / "f1.txt"), str(tmp_path / "f2.txt")]
    txt = E.read_files(spark, paths, fmt="text")
    got = sorted(r["value"] for r in txt.collect())
    assert got == ["alpha", "beta", "gamma"]
    assert all(r["path"].startswith("file:") for r in txt.collect())
    # paths may also arrive as a DataFrame (SCollection of filenames)
    pdf = spark.createDataFrame([(p,) for p in paths], ["p"])
    binary = E.read_files(spark, pdf, fmt="binary")
    assert binary.count() == 2
    assert {len(bytes(r["content"])) for r in binary.collect()} == {11, 6}


def test_map_file_downloads_and_maps(spark, tmp_path):
    f1 = tmp_path / "x.txt"; f1.write_text("hello file one")
    f2 = tmp_path / "y.txt"; f2.write_text("two")
    df = spark.createDataFrame(
        [(f"file://{f1}",), (f"file://{f2}",)], ["uri"]
    )

    def measure(local_path):
        with open(local_path) as fh:
            return {"n_chars": len(fh.read())}

    out = E.map_file(df, "uri", measure, "uri string, n_chars long")
    got = {r["uri"].split("/")[-1]: r["n_chars"] for r in out.collect()}
    assert got == {"x.txt": 14, "y.txt": 3}


def test_object_file_df_normalizes_nonscalar_types(spark, tmp_path):
    """Arrow hands ArrayType columns to the pandas_udf as numpy arrays and
    StructType as dicts (with numpy scalars inside) — object_file_df must
    normalize before pickling so pickle.loads round-trips plain Python
    types, never numpy objects."""
    import pickle

    from scio_spark.sources import formats as FM

    path = str(tmp_path / "objdf_nested")
    df = spark.createDataFrame(
        [(1, [1, 2, 3], (7, "x")), (2, [4], (8, "y"))],
        "id long, arr array<int>, st struct<a:int,b:string>",
    )
    FM.object_file_df(df, ["arr", "st"], path)
    back = {r.id: r for r in spark.read.parquet(path).collect()}
    arr = pickle.loads(bytes(back[1].arr))
    assert arr == [1, 2, 3]
    assert type(arr) is list and all(type(x) is int for x in arr)
    st = pickle.loads(bytes(back[1].st))
    assert st == {"a": 7, "b": "x"}
    assert type(st) is dict and type(st["a"]) is int
    assert pickle.loads(bytes(back[2].arr)) == [4]


def test_decode_image_features_routes_gif(spark):
    """GIF is sniffable and decodable for real (codecs.decode_gif) — it
    must route to the real tier, and strict=True must not raise on it."""
    import numpy as np

    from scio_spark.functions import multimodal as M
    from scio_spark.functions.codecs import encode_gif

    gif = encode_gif(np.full((4, 6, 3), 100, np.uint8))
    real = spark.createDataFrame(
        [(1, bytearray(gif))], "asset_id long, content binary"
    )
    r = M.decode_image_features(real).head()
    assert r["decoder"] == "gif" and (r["width"], r["height"]) == (6, 4)
    assert abs(r["mean_luma"] - 100 / 255) < 1e-9
    M.decode_image_features(real, strict=True).collect()  # must not raise
