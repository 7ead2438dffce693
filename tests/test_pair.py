"""Keyed ops + join suite — mirrors PairSCollectionFunctionsTest.scala,
PairHashSCollectionFunctionsTest.scala, PairSkewedSCollectionFunctionsTest
fixtures: overlapping/disjoint keysets, duplicate keys both sides (per-key
cartesian in joins)."""

import pytest
from pyspark.sql import functions as F

from scio_spark.operators import joins as J
from tests.conftest import rows


@pytest.fixture()
def kv1(sc):
    return sc.parallelize(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4)], schema=["key", "v"]
    ).key_by("key")


@pytest.fixture()
def kv2(sc):
    return sc.parallelize(
        [("a", "x"), ("b", "y"), ("b", "z"), ("d", "w")], schema=["key", "w"]
    ).key_by("key")


def test_join_inner_per_key_cartesian(kv1, kv2):
    got = rows(kv1.join(kv2).df, "key", "v", "w")
    assert got == [("a", 1, "x"), ("a", 2, "x"), ("b", 3, "y"), ("b", 3, "z")]


def test_left_outer_join(kv1, kv2):
    got = rows(kv1.left_outer_join(kv2).df, "key", "v", "w")
    assert ("c", 4, None) in got and len(got) == 5


def test_full_outer_join(kv1, kv2):
    got = rows(kv1.full_outer_join(kv2).df, "key", "v", "w")
    assert ("c", 4, None) in got and ("d", None, "w") in got and len(got) == 6


def test_hash_join_matches_shuffle_join(kv1, kv2):
    a = rows(kv1.join(kv2).df, "key", "v", "w")
    b = rows(kv1.hash_join(kv2).df, "key", "v", "w")
    assert a == b


def test_hash_join_plan_is_broadcast(kv1, kv2):
    plan = kv1.hash_join(kv2).df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cogroup_empty_sides(kv1, kv2):
    got = {r["key"]: (sorted(r["values_1"]), sorted(r["values_2"]))
           for r in J.cogroup(kv1, kv2).df.collect()}
    assert got["a"] == ([1, 2], ["x"])
    assert got["c"] == ([4], [])
    assert got["d"] == ([], ["w"])


def test_cogroup_3way(sc, kv1, kv2):
    kv3 = sc.parallelize(
        [("a", 10.0), ("d", 20.0), ("e", 30.0)], schema=["key", "u"]
    ).key_by("key")
    got = {
        r["key"]: (sorted(r["values_1"]), sorted(r["values_2"]), sorted(r["values_3"]))
        for r in J.cogroup(kv1, kv2, kv3).df.collect()
    }
    assert got["a"] == ([1, 2], ["x"], [10.0])
    assert got["c"] == ([4], [], [])
    assert got["e"] == ([], [], [30.0])
    assert set(got) == {"a", "b", "c", "d", "e"}


def test_multi_join_cogroup_mode(sc, kv1, kv2):
    kv3 = sc.parallelize([("a", 10.0)], schema=["key", "u"]).key_by("key")
    df = J.multi_join([kv1, kv2, kv3], how="cogroup").df
    assert sorted(df.columns) == ["key", "values_1", "values_2", "values_3"]
    # tag-and-union cogroup: ONE shuffle total, like scio's CoGroupByKey
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_intersect_subtract_by_key(kv1, kv2):
    assert rows(kv1.intersect_by_key(kv2).df, "key", "v") == [
        ("a", 1), ("a", 2), ("b", 3)
    ]
    assert rows(kv1.subtract_by_key(kv2).df, "key", "v") == [("c", 4)]
    assert rows(kv1.hash_intersect_by_key(kv2).df, "key", "v") == [
        ("a", 1), ("a", 2), ("b", 3)
    ]
    assert rows(kv1.hash_subtract_by_key(kv2).df, "key", "v") == [("c", 4)]


def test_sparse_join_inner_and_left(kv1, kv2):
    inner = rows(kv1.sparse_join(kv2, how="inner").df, "key", "v", "w")
    assert inner == rows(kv1.join(kv2).df, "key", "v", "w")
    left = rows(kv1.sparse_join(kv2, how="left").df, "key", "v", "w")
    assert left == rows(kv1.left_outer_join(kv2).df, "key", "v", "w")


def test_sparse_join_right_and_full(kv1, kv2):
    right = rows(kv1.sparse_join(kv2, how="right").df, "key", "v", "w")
    assert right == rows(kv1.right_outer_join(kv2).df, "key", "v", "w")
    full = rows(kv1.sparse_join(kv2, how="outer").df, "key", "v", "w")
    assert full == rows(kv1.full_outer_join(kv2).df, "key", "v", "w")


def test_sparse_join_bloom_path(kv1, kv2):
    """Above SPARSE_JOIN_EXACT_KEYSET_MAX the prefilter must be a broadcast
    Bloom bitmap (functions/bloom.py Arrow probe), never an exact-keyset
    broadcast semi-join — and all four flavors stay value-exact because the
    real join re-checks Bloom false positives."""
    big = J.SPARSE_JOIN_EXACT_KEYSET_MAX + 1
    for how, ref in [
        ("inner", kv1.join(kv2)),
        ("left", kv1.left_outer_join(kv2)),
        ("right", kv1.right_outer_join(kv2)),
        ("outer", kv1.full_outer_join(kv2)),
    ]:
        got = kv1.sparse_join(kv2, rhs_num_keys=big, how=how)
        assert rows(got.df, "key", "v", "w") == rows(ref.df, "key", "v", "w"), how
    plan = (
        kv1.sparse_join(kv2, rhs_num_keys=big, how="inner")
        .df._jdf.queryExecution().executedPlan().toString()
    )
    # r15-opt: the BF probe is a boolean pandas UDF over the JVM-hashed
    # position array (ArrowEvalPython filter), no longer a full-row
    # MapInPandas stage — payload columns never cross the Python boundary.
    assert "ArrowEvalPython" in plan  # vectorized BF probe is the prefilter
    assert "MapInPandas" not in plan  # full-row probe shape is gone
    assert "LeftSemi" not in plan  # no exact-keyset broadcast semi-join


def test_sparse_lookup(kv1, kv2):
    got = {r["key"]: sorted(r["matches"]) for r in J.sparse_lookup(kv1, kv2).df.collect()}
    assert got["a"] == ["x"] and got["b"] == ["y", "z"] and got["c"] == []


def test_skewed_join_matches_plain(sc, kv2):
    hot = sc.parallelize(
        [("a", i) for i in range(100)] + [("b", -1)], schema=["key", "v"]
    ).key_by("key")
    plain = rows(hot.join(kv2).df, "key", "v", "w")
    skew = rows(hot.skewed_join(kv2, hot_key_threshold=10).df, "key", "v", "w")
    assert plain == skew


def test_skewed_join_sample_fraction(sc, kv2):
    """Sampled hot-key detection (sampleFraction knob): on a strongly skewed
    fixture the sampled hot-set matches the exact hot-set, and the join
    result is exact regardless of which side of the split a key lands on."""
    from scio_spark.operators.joins import skewed_join

    hot = sc.parallelize(
        [("a", i) for i in range(2000)] + [("b", -1), ("d", -2)],
        schema=["key", "v"],
    ).key_by("key")
    plain = rows(hot.join(kv2).df, "key", "v", "w")
    sampled = rows(
        hot.skewed_join(kv2, hot_key_threshold=100, sample_fraction=0.1).df,
        "key", "v", "w",
    )
    assert plain == sampled
    # the sampled detector finds the same hot keys as the exact one: "a"
    # (2000 rows ≫ threshold) is hot, singletons are not
    detected = {
        r["key"]
        for r in hot.df.sample(fraction=0.1, seed=42)
        .groupBy("key").count().filter(F.col("count") > 100 * 0.1)
        .collect()
    }
    assert detected == {"a"}
    with pytest.raises(ValueError):
        skewed_join(hot, kv2, sample_fraction=1.5)


def test_multi_join(sc, kv1, kv2):
    kv3 = sc.parallelize([("a", 9.0), ("b", 8.0)], schema=["key", "z"]).key_by("key")
    got = rows(J.multi_join([kv1, kv2, kv3]).df, "key", "v", "w", "z")
    assert got == [
        ("a", 1, "x", 9.0), ("a", 2, "x", 9.0),
        ("b", 3, "y", 8.0), ("b", 3, "z", 8.0),
    ]


def test_top_by_key(kv1):
    got = rows(kv1.top_by_key(1, "v").df, "key", "v")
    assert got == [("a", 2), ("b", 3), ("c", 4)]


def test_count_sum_min_max_mean_by_key(kv1):
    assert rows(kv1.count_by_key().df) == [("a", 2), ("b", 1), ("c", 1)]
    assert rows(kv1.sum_by_key("v").df) == [("a", 3), ("b", 3), ("c", 4)]
    assert rows(kv1.min_by_key("v").df) == [("a", 1), ("b", 3), ("c", 4)]
    assert rows(kv1.max_by_key("v").df) == [("a", 2), ("b", 3), ("c", 4)]
    assert rows(kv1.mean_by_key("v").df) == [("a", 1.5), ("b", 3.0), ("c", 4.0)]


def test_group_by_key_and_flatten_values(kv1):
    g = kv1.group_by_key()
    got = {r["key"]: sorted(r["values"]) for r in g.df.collect()}
    assert got == {"a": [1, 2], "b": [3], "c": [4]}
    back = rows(g.flatten_values("values").df, "key", "values")
    assert back == [("a", 1), ("a", 2), ("b", 3), ("c", 4)]


def test_batch_by_key(sc):
    c = sc.parallelize([("a", i) for i in range(7)], schema=["key", "v"]).key_by("key")
    batches = c.batch_by_key(3).df.collect()
    sizes = sorted(len(b["batch"]) for b in batches)
    assert sizes == [1, 3, 3]


def test_swap_keys_values(sc):
    c = sc.parallelize([("a", 1)], schema=["k", "v"]).key_by("k")
    swapped = c.swap()
    assert swapped.key_cols == ["v"]


def test_map_keys_values(kv1):
    mv = kv1.map_values(v2="v * 10")
    assert rows(mv.df, "key", "v2") == [("a", 10), ("a", 20), ("b", 30), ("c", 40)]
    mk = kv1.map_keys(K="upper(key)")
    assert mk.key_cols == ["K"]
    assert ("A", 1) in rows(mk.df, "K", "v")


def test_hash_lookup(kv1, kv2):
    got = {r["key"]: sorted(r["matches"] or []) for r in kv1.hash_lookup(kv2).df.collect()}
    assert got["b"] == ["y", "z"] and got["c"] == []


def test_cross(sc, kv1):
    tiny = sc.parallelize([("t1",)], schema=["tag"])
    got = rows(kv1.cross(tiny).df, "key", "v", "tag")
    assert len(got) == 4 and all(t == "t1" for _, _, t in got)


def test_sample_by_key(sc):
    c = sc.parallelize(
        [("a", i) for i in range(100)] + [("b", i) for i in range(100)],
        schema=["key", "v"],
    ).key_by("key")
    s = c.sample_by_key({"a": 0.1, "b": 0.5}, seed=1)
    counts = dict(rows(s.count_by_key().df))
    assert counts.get("a", 0) < counts.get("b", 0)


def test_sort_values_within_partitions(sc):
    c = sc.parallelize(
        [("a", 3), ("a", 1), ("b", 2), ("a", 2)], schema=["k", "v"]
    ).key_by("k")
    out = c.sort_values("v")
    # each physical partition holds whole key groups in (k, v) order
    def check(it):
        rows = list(it)
        keys_seen = [r["k"] for r in rows]
        for k in set(keys_seen):
            vs = [r["v"] for r in rows if r["k"] == k]
            assert vs == sorted(vs)
        yield len(rows)
    total = sum(out.df.rdd.mapPartitions(lambda it: check(it)).collect())
    assert total == 4


def test_grouped_sorted_values(sc):
    c = sc.parallelize(
        [("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z")], schema=["k", "s", "v"]
    ).key_by("k")
    g = c.grouped_sorted_values("s").df.collect()[0]
    assert [t["s"] for t in g["values"]] == [1, 2, 3]
    assert [t["v"] for t in g["values"]] == ["y", "z", "x"]


def test_text_files_with_path(sc, tmp_path):
    (tmp_path / "a.txt").write_text("one\n")
    (tmp_path / "b.txt").write_text("two\n")
    out = sc.text_files_with_path(str(tmp_path / "*.txt"))
    got = {r["value"]: r["path"].split("/")[-1] for r in out.collect()}
    assert got == {"one": "a.txt", "two": "b.txt"}


def test_join_key_mismatch_raises(sc, kv1):
    other = sc.parallelize([("a", 1)], schema=["other_key", "v2"]).key_by("other_key")
    with pytest.raises(ValueError, match="join keys"):
        kv1.join(other)


def test_sample_exact_by_key(sc):
    c = sc.parallelize(
        [("a", i) for i in range(50)] + [("b", 1), ("b", 2)], schema=["k", "v"]
    ).key_by("k")
    s = c.sample_exact_by_key(5, seed=9)
    counts = dict(rows(s.count_by_key().df))
    assert counts == {"a": 5, "b": 2}  # min(n, group size)
    # deterministic for a fixed seed
    again = sorted(rows(c.sample_exact_by_key(5, seed=9).df, "k", "v"))
    assert again == sorted(rows(s.df, "k", "v"))


def test_skewed_join_at_reference_threshold(sc):
    """FIXTURES.md §2 skew variant: one hot key with >9000 occurrences
    (the reference's default skewedJoin threshold,
    PairSkewedSCollectionFunctions.scala:63)."""
    hot = sc.parallelize(
        [("hot", i) for i in range(9500)] + [(f"k{i}", i) for i in range(50)],
        schema=["key", "v"],
    ).key_by("key")
    rhs = sc.parallelize(
        [("hot", "H")] + [(f"k{i}", f"r{i}") for i in range(0, 50, 2)],
        schema=["key", "w"],
    ).key_by("key")
    plain = hot.join(rhs).df.count()
    skew = hot.skewed_join(rhs).df  # default threshold 9000 → splits "hot"
    assert skew.count() == plain == 9500 + 25
    # the hot slice really went through the broadcast path
    from scio_spark.plans import lint

    assert "BroadcastHashJoin" in lint.executed_plan(skew)


def test_hash_full_outer_join_falls_back_gracefully(kv1, kv2):
    """hashFullOuterJoin (PairHashSCollectionFunctions.scala:124): Spark may
    decline to broadcast a full-outer build side — semantics must hold
    either way (the hint is advisory, the result identical)."""
    a = rows(kv1.hash_join(kv2, how="full").df, "key", "v", "w")
    b = rows(kv1.full_outer_join(kv2).df, "key", "v", "w")
    assert a == b


def test_large_hash_join_matches_regular_join(spark, monkeypatch, tmp_path):
    """Sparkey-analog disk-KV join must agree with the shuffle join,
    including per-key multiplicity and left-outer nulls — with the KV shards
    built on executors (no RHS row through the driver: toLocalIterator is
    trapped) and the keyspace actually split across shard files."""
    from pyspark.sql import DataFrame as SparkDF

    def trap(self, *a, **k):
        raise AssertionError("large_hash_join materialized RHS on the driver")

    monkeypatch.setattr(SparkDF, "toLocalIterator", trap)
    # the shard_dir-less call below makes its store dir under tempdir
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    left = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("x", 9)], ["key", "v"]
    )
    right = spark.createDataFrame(
        [("a", "p"), ("b", "q"), ("b", "r"), ("z", "s")], ["key", "w"]
    )
    inner = sorted(
        tuple(r)
        for r in J.large_hash_join(
            left, right, "key", n_shards=4, shard_dir=str(tmp_path)
        ).collect()
    )
    expect = sorted(tuple(r) for r in left.join(right, "key").collect())
    assert inner == expect
    assert len(list(tmp_path.glob("*_shard_*.db"))) >= 2  # sharded build
    lo = sorted(
        tuple(r) for r in J.large_hash_join(left, right, "key", how="left").collect()
    )
    expect_lo = sorted(tuple(r) for r in left.join(right, "key", "left").collect())
    assert lo == expect_lo


def test_sparse_join_bloom_composite_key(sc):
    """Bloom regime with a 2-column key: xxhash64 collapses the composite
    key identically on both sides; result matches the plain join."""
    l = sc.parallelize(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30), ("c", 9, 40)],
        schema=["k1", "k2", "v"],
    ).key_by("k1", "k2")
    r = sc.parallelize(
        [("a", 1, "x"), ("b", 1, "y"), ("d", 7, "z")],
        schema=["k1", "k2", "w"],
    ).key_by("k1", "k2")
    big = J.SPARSE_JOIN_EXACT_KEYSET_MAX + 1
    got = rows(l.sparse_join(r, rhs_num_keys=big, how="left").df, "k1", "k2", "v", "w")
    ref = rows(l.left_outer_join(r).df, "k1", "k2", "v", "w")
    assert got == ref


def test_sparse_join_bloom_null_keys(sc):
    """SQL join semantics for NULL keys (never match) must survive the
    Bloom prefilter: xxhash64(NULL) still hashes to a probe position, so a
    null-key row may pass the filter — the real join must then handle it
    exactly as the plain join does."""
    l = sc.parallelize(
        [("a", 1), (None, 2), ("c", 3)], schema=["key", "v"]
    ).key_by("key")
    r = sc.parallelize(
        [("a", "x"), (None, "y")], schema=["key", "w"]
    ).key_by("key")
    big = J.SPARSE_JOIN_EXACT_KEYSET_MAX + 1
    for how, ref in [
        ("inner", l.join(r)),
        ("left", l.left_outer_join(r)),
        ("outer", l.full_outer_join(r)),
    ]:
        got = rows(l.sparse_join(r, rhs_num_keys=big, how=how).df, "key", "v", "w")
        assert got == rows(ref.df, "key", "v", "w"), how


def test_large_hash_join_preserves_value_types(spark, tmp_path, monkeypatch):
    """The sqlite KV channel must round-trip non-JSON-native RHS value types
    (date, timestamp, decimal, binary, array) to their declared Spark types —
    the old json.dumps(default=str) path degraded them to strings that failed
    (or mis-typed) at Arrow conversion far from the cause."""
    import datetime as dt
    from decimal import Decimal

    left = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["key", "v"])
    right = spark.createDataFrame(
        [
            ("a", dt.date(2020, 1, 2), dt.datetime(2020, 1, 2, 3, 4, 5),
             Decimal("12.34"), bytearray(b"\x00\xff"), [1, 2]),
            ("b", dt.date(2021, 6, 7), dt.datetime(2021, 6, 7, 8, 9, 10),
             Decimal("56.78"), bytearray(b"xy"), [3]),
        ],
        "key string, d date, ts timestamp_ntz, m decimal(10,2), "
        "raw binary, arr array<int>",
    )
    got = J.large_hash_join(
        left, right, "key", n_shards=2, shard_dir=str(tmp_path)
    )
    expect = left.join(right, "key")
    assert dict(got.dtypes) == dict(expect.dtypes)
    g = sorted((tuple(r) for r in got.collect()), key=repr)
    e = sorted((tuple(r) for r in expect.collect()), key=repr)
    assert g == e
    # left-outer nulls in typed columns survive too
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))  # its store dir
    lo = J.large_hash_join(left, right, "key", how="left").collect()
    assert {r["key"]: r["d"] for r in lo}["c"] is None


def test_kv_store_build_once_probe_many(spark, tmp_path):
    """The Sparkey pattern proper: one distributed store build, multiple
    later joins probe the same on-disk artifact (manifest-driven — no
    handle to the build-side DataFrame needed)."""
    right = spark.createDataFrame(
        [("a", "p"), ("b", "q"), ("b", "r")], ["key", "w"]
    )
    store = J.build_kv_store(right, "key", store_dir=str(tmp_path / "store"))
    import os

    assert os.path.exists(os.path.join(store, "_manifest.json"))

    l1 = spark.createDataFrame([("a", 1), ("b", 2), ("x", 3)], ["key", "v"])
    got1 = sorted(tuple(r) for r in J.kv_store_join(l1, store).collect())
    assert got1 == sorted(tuple(r) for r in l1.join(right, "key").collect())

    l2 = spark.createDataFrame([("b", 9)], ["key", "v2"])  # different schema
    got2 = sorted(tuple(r) for r in J.kv_store_join(l2, store, how="left").collect())
    assert got2 == [("b", 9, "q"), ("b", 9, "r")]

    bad = spark.createDataFrame([(1,)], ["nope"])
    with pytest.raises(ValueError, match="no column"):
        J.kv_store_join(bad, store)


def test_kv_store_join_null_key_semantics(spark, tmp_path):
    """SQL joins never match NULL keys. The JSON key encoding would equate
    NULL with NULL ('null' == 'null'), so the build drops NULL-key rows and
    the probe never looks NULL keys up — pinned against Spark's own join
    for both inner and left."""
    left = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], ["key", "v"]
    )
    right = spark.createDataFrame(
        [("a", "p"), (None, "boom"), ("c", "q")], ["key", "w"]
    )
    store = J.build_kv_store(right, "key", store_dir=str(tmp_path / "s"))
    for how in ("inner", "left"):
        got = sorted(
            (tuple(r) for r in J.kv_store_join(left, store, how=how).collect()),
            key=repr,
        )
        exp = sorted(
            (tuple(r) for r in left.join(right, "key", how).collect()),
            key=repr,
        )
        assert got == exp, how


def test_kv_store_key_only_semi_join(spark, tmp_path):
    """A store built from a key-only DataFrame acts as a distributed
    semi-join filter (no value columns in the manifest or output)."""
    right = spark.createDataFrame([("a",), ("b",)], ["key"])
    store = J.build_kv_store(right, "key", store_dir=str(tmp_path / "ko"))
    left = spark.createDataFrame([("a", 1), ("x", 2)], ["key", "v"])
    out = J.kv_store_join(left, store)
    assert out.columns == ["key", "v"]
    assert [tuple(r) for r in out.collect()] == [("a", 1)]


def test_top_by_key_skew_safe_parity(sc):
    """Two-phase (skew_safe) topByKey returns the same per-key multiset of
    order values as the window path, on a fixture with one hot key spread
    over many partitions (the case the variant exists for)."""
    import random

    rnd = random.Random(7)
    data = [("hot", rnd.randrange(100_000)) for _ in range(5_000)]
    data += [(f"k{i % 20}", rnd.randrange(100_000)) for i in range(2_000)]
    kv = sc.parallelize(data, schema=["key", "v"]).key_by("key")
    kv = kv._wrap(kv.df.repartition(16))

    def per_key(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["key"], []).append(r["v"])
        return {k: sorted(v) for k, v in out.items()}

    base = per_key(kv.top_by_key(5, "v").df)
    two = per_key(kv.top_by_key(5, "v", skew_safe=True).df)
    assert two == base
    asc = per_key(kv.top_by_key(3, "v", ascending=True, skew_safe=True).df)
    assert asc == per_key(kv.top_by_key(3, "v", ascending=True).df)


def test_top_by_key_skew_safe_truncates_before_final_shuffle(sc):
    """Plan shape: the skew-safe path carries TWO hash exchanges with a
    row_number filter BETWEEN them (partition-local truncation), so the
    final per-key sort sees <= n x P rows instead of the hot key's total."""
    kv = sc.parallelize(
        [("hot", i) for i in range(1000)], schema=["key", "v"]
    ).key_by("key")
    plan = kv.top_by_key(3, "v", skew_safe=True).df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    # phase-1 exchange clusters on (pid, key): the hot key cannot land on one reducer
    assert "__pid" in plan


def test_hash_partition_by_key(kv1):
    out = kv1.hash_partition_by_key(4)
    assert rows(out.df, "key", "v") == [("a", 1), ("a", 2), ("b", 3), ("c", 4)]
    # clustering: both 'a' rows land in the same partition
    from pyspark.sql import functions as F

    pids = {
        r["key"]: r["pids"]
        for r in out.df.withColumn("__pid", F.spark_partition_id())
        .groupBy("key")
        .agg(F.collect_set("__pid").alias("pids"))
        .collect()
    }
    assert all(len(p) == 1 for p in pids.values())
