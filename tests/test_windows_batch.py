"""Batch windowing helpers (operators/windows.py) + remaining SCollection ops."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from scio_spark.operators import windows as W
from tests.conftest import rows


def t(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [
            ("a", 1, t(0)),
            ("a", 2, t(4)),
            ("b", 3, t(11)),
            ("a", 4, t(59)),
        ],
        ["k", "v", "ts"],
    )


def test_fixed_windows_assignment(events):
    out = W.with_fixed_windows(events, "ts", "10 minutes")
    starts = sorted(r["window_start"].minute for r in out.collect())
    assert starts == [0, 0, 10, 50]


def test_sliding_windows_multiplicity(events):
    out = W.with_sliding_windows(events, "ts", "10 minutes", "5 minutes")
    # each event lands in exactly size/slide = 2 windows
    assert out.count() == events.count() * 2


def test_session_agg_batch(events):
    out = W.session_agg(
        events, "ts", "10 minutes", ["k"], [F.count(F.lit(1)).alias("n")]
    )
    got = {(r["k"], r["session_start"].minute): r["n"] for r in out.collect()}
    # a: events at :00 and :04 in one session, :59 in another; b: one session
    assert got == {("a", 0): 2, ("a", 59): 1, ("b", 11): 1}


def test_calendar_window(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 15),), (dt.datetime(2024, 3, 2),), (dt.datetime(2024, 4, 1),)],
        ["d"],
    )
    out = W.with_calendar_window(df, "d", "month")
    months = sorted(r["window_start"].month for r in out.collect())
    assert months == [3, 3, 4]


def test_timestamp_by(spark):
    df = spark.createDataFrame([(1, 1700000000)], ["id", "epoch"])
    out = W.timestamp_by(df, F.timestamp_seconds(F.col("epoch")))
    assert out.schema["event_time"].dataType.typeName() == "timestamp"


# --------------------------------------------------- leftover collection ops


def test_map_partitions_slow_path(sc):
    c = sc.parallelize([1, 2, 3])

    def double(batches):
        for pdf in batches:
            pdf["value"] = pdf["value"] * 2
            yield pdf

    assert sorted(r[0] for r in c.map_partitions(double, "value long").collect()) == [2, 4, 6]


def test_map_callable_routes_to_pandas(sc):
    c = sc.parallelize([1, 2])

    def inc(batches):
        for pdf in batches:
            pdf["value"] = pdf["value"] + 1
            yield pdf

    assert sorted(r[0] for r in c.map(inc, schema="value long").collect()) == [2, 3]


def test_count_approx_distinct_low_cardinality(sc):
    c = sc.parallelize([1, 2, 3, 1, 2, 3, 1])
    assert c.count_approx_distinct("value").collect()[0][0] == 3


def test_quantiles_approx(sc):
    c = sc.parallelize([float(i) for i in range(101)])
    q = c.quantiles_approx("value", [0.5]).collect()[0][0]
    assert abs(q[0] - 50.0) <= 1.0


def test_partition_n(sc):
    parts = sc.parallelize(list(range(10))).partition_n(3, "value")
    sizes = [p.count() for p in parts]
    assert sum(sizes) == 10 and len(sizes) == 3


def test_collect_pf(sc):
    c = sc.parallelize([1, 2, 3, 4])
    out = c.collect_pf("value > 2", squared="value * value")
    assert rows(out.df) == [(16,), (9,)]


def test_sample_n(sc):
    got = sc.parallelize(list(range(100))).sample_n(5, seed=1)
    assert len(got) == 5


def test_intersect_subtract_multiset(sc):
    a = sc.parallelize([1, 1, 2])
    b = sc.parallelize([1])
    # reference subtract is an anti-join: every occurrence of 1 is removed
    assert sorted(r[0] for r in a.subtract(b).collect()) == [2]
    # the multiset (per-occurrence) variant is available as except_all
    assert sorted(r[0] for r in a.except_all(b).collect()) == [1, 2]


def test_batch_weighted(sc):
    c = sc.parallelize([(i, 10) for i in range(10)], schema=["id", "w"])
    batches = c.batch_weighted(30, "w").df.collect()
    sizes = [len(b["batch"]) for b in batches]
    assert sum(sizes) == 10 and max(sizes) <= 3


def test_batch_weighted_greedy_nonuniform(sc):
    # weights [4,5,5], max 8: greedy must yield [4],[5],[5] — cumsum/ceil
    # bucketing would wrongly put 10 in one batch
    c = sc.parallelize([(0, 4), (1, 5), (2, 5)], schema=["id", "w"])
    c = c._wrap(c.df.coalesce(1))
    batches = c.batch_weighted(8, "w").df.collect()
    weights = sorted(sum(r["w"] for r in b["batch"]) for b in batches)
    assert weights == [4, 5, 5]
    for b in batches:
        assert sum(r["w"] for r in b["batch"]) <= 8


def test_batch_weighted_oversize_element_own_batch(sc):
    c = sc.parallelize([(0, 3), (1, 99), (2, 3)], schema=["id", "w"])
    c = c._wrap(c.df.coalesce(1))
    batches = c.batch_weighted(8, "w").df.collect()
    ids = sorted(tuple(sorted(r["id"] for r in b["batch"])) for b in batches)
    assert (1,) in ids  # the overweight element stands alone
    assert sum(len(b["batch"]) for b in batches) == 3


def test_fold_with_zero(sc):
    c = sc.parallelize([1, 2, 3])
    assert c.fold(100, "acc + x").collect()[0]["folded"] == 106


def test_group_map(sc):
    keyed = sc.parallelize([("a", 1), ("a", 2), ("b", 5)], schema=["k", "v"]).key_by("k")
    got = {r["k"]: sorted(r["mapped"]) for r in keyed.group_map("v * 10").collect()}
    assert got == {"a": [10, 20], "b": [50]}


def test_batch_byte_sized_counts_bytes_not_chars(sc):
    # "éééé" is 4 chars but 8 UTF-8 bytes: with max 8 it must sit alone
    c = sc.parallelize(["\u00e9\u00e9\u00e9\u00e9", "aaaa", "bbbb"], schema=["value"])
    c = c._wrap(c.df.coalesce(1))
    batches = c.batch_byte_sized(8).df.collect()
    for b in batches:
        assert sum(len(r["value"].encode()) for r in b["batch"]) <= 8
    assert sum(len(b["batch"]) for b in batches) == 3


def test_batch_byte_sized(sc):
    c = sc.parallelize(["aaaa", "bbbb", "cccc", "dd"], schema=["value"])
    batches = c.batch_byte_sized(8).df.collect()
    sizes = sorted(len(b["batch"]) for b in batches)
    assert sum(sizes) == 4
    # no batch exceeds ~8 bytes of payload
    for b in batches:
        assert sum(len(r["value"]) for r in b["batch"]) <= 8


def test_with_window_fn_multiplicity(spark):
    """Custom WindowFn contract: 0..N windows per element (0 = drop,
    2 = replicate)."""
    import datetime as dt

    from scio_spark.operators.windows import with_window_fn

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0)), (2, dt.datetime(2024, 1, 1, 11, 0))],
        ["id", "ts"],
    )
    # id=1 → two windows; id=2 → none
    out = with_window_fn(
        df,
        "CASE WHEN id = 1 THEN array("
        "named_struct('start', ts, 'end', ts + INTERVAL 1 HOUR),"
        "named_struct('start', ts - INTERVAL 1 HOUR, 'end', ts)"
        ") ELSE array() END",
    )
    rows_ = out.collect()
    assert len(rows_) == 2 and all(r["id"] == 1 for r in rows_)
    assert {r["window_start"].hour for r in rows_} == {9, 10}


def test_with_pane_info_batch_constant(spark):
    from scio_spark.operators.windows import with_pane_info

    df = spark.createDataFrame([(1,), (2,)], ["x"])
    out = with_pane_info(df).collect()
    assert all(
        (r["pane_timing"], r["pane_index"], r["pane_is_first"], r["pane_is_last"])
        == ("ON_TIME", 0, True, True)
        for r in out
    )


def test_capped_sessions_hand_computed(spark):
    """Per-user events: 0,100,200 then a 1000s gap then 2000..2600 every
    100s. gap=300 → two gap-sessions; cap=250 splits them further."""
    from pyspark.sql import functions as F

    from scio_spark.operators.windows import capped_sessions

    rows = [(1, t) for t in [0, 100, 200, 1200, 2000, 2100, 2200, 2300, 2400, 2500, 2600]]
    df = spark.createDataFrame(rows, "user long, t long").select(
        "user", F.timestamp_seconds("t").alias("ts"), "t"
    )
    out = {r.t: r.session_id for r in capped_sessions(df, "ts", 300, 250, "user").collect()}
    # gap session 1: t=0,100,200 → splits floor(dt/250): 0,0,0
    assert out[0] == out[100] == "g1.0"
    assert out[200] == "g1.0"
    # t=1200 starts gap session 2 (gap 1000 > 300)
    assert out[1200] == "g2.0"
    # t=2000.. gap 800 > 300 → gap session 3; cap splits at [0,250),[250,500),[500,750)
    assert out[2000] == out[2100] == out[2200] == "g3.0"
    assert out[2300] == out[2400] == "g3.1"
    assert out[2500] == out[2600] == "g3.2"


def test_capped_sessions_per_key_isolation(spark):
    from pyspark.sql import functions as F

    from scio_spark.operators.windows import capped_sessions

    rows = [(1, 0), (2, 0), (1, 1000), (2, 50)]
    df = spark.createDataFrame(rows, "user long, t long").select(
        "user", F.timestamp_seconds("t").alias("ts"), "t"
    )
    out = {(r.user, r.t): r.session_id for r in capped_sessions(df, "ts", 300, 10_000, "user").collect()}
    assert out[(1, 0)] == "g1.0" and out[(1, 1000)] == "g2.0"
    assert out[(2, 0)] == out[(2, 50)] == "g1.0"


def test_capped_sessions_validation(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from scio_spark.operators.windows import capped_sessions

    df = spark.range(1).select(F.current_timestamp().alias("ts"))
    with _pt.raises(ValueError):
        capped_sessions(df, "ts", 0, 100)


def test_multi_unit_calendar_windows(spark):
    """windowByMonths(3) = quarters, windowByDays(10), windowByYears(2) —
    CalendarWindows alignment: whole units since the epoch floored to
    multiples of `number` (weeks start Monday)."""
    import datetime as dt

    from scio_spark.operators.windows import with_calendar_window

    df = spark.createDataFrame(
        [(dt.datetime(2024, 2, 15),), (dt.datetime(2024, 4, 1),),
         (dt.datetime(2024, 12, 31),)],
        "ts timestamp",
    )
    q = {
        (str(r.ts), str(r.window_start))
        for r in with_calendar_window(df, "ts", "month", 3).collect()
    }
    assert q == {
        ("2024-02-15 00:00:00", "2024-01-01 00:00:00"),
        ("2024-04-01 00:00:00", "2024-04-01 00:00:00"),
        ("2024-12-31 00:00:00", "2024-10-01 00:00:00"),
    }
    y = {
        str(r.window_start)
        for r in with_calendar_window(df, "ts", "year", 2).collect()
    }
    assert y == {"2024-01-01 00:00:00"}  # 2024-1970=54, floor(54/2)*2=54
    d = with_calendar_window(
        spark.createDataFrame([(dt.datetime(1970, 1, 25),)], "ts timestamp"),
        "ts", "day", 10,
    ).collect()[0]
    assert str(d.window_start) == "1970-01-21 00:00:00"
    w = with_calendar_window(
        spark.createDataFrame([(dt.datetime(2024, 1, 10),)], "ts timestamp"),
        "ts", "week", 2,
    ).collect()[0]
    # 2024-01-10 is a Wednesday; the enclosing 2-week Monday-aligned
    # window starts 2024-01-08: 19728 days after 1970-01-05 floors to
    # 19726 = 1409 × 14 (hand-checked epoch-day arithmetic)
    assert str(w.window_start) == "2024-01-08 00:00:00"


# ------------------------------------------- traffic examples parity


@pytest.fixture()
def traffic_dir(spark, tmp_path):
    """Tiny events table with known argmax ties and one decreasing
    station-pair, all inside the 00:00-00:30 slide bucket (every row in
    exactly the 2024-01-01 00:00 and 2023-12-31 23:30 sliding windows)."""
    import datetime as dt

    rows_ = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1, "A", 5.0),
        (2, dt.datetime(2024, 1, 1, 0, 12), 1, "A", 4.0),  # user 1 slows
        (3, dt.datetime(2024, 1, 1, 0, 15), 2, "A", 7.5),
        (4, dt.datetime(2024, 1, 1, 0, 16), 2, "A", 7.5),  # max tie
        (5, dt.datetime(2024, 1, 1, 0, 10), 3, "B", 3.0),
        (6, dt.datetime(2024, 1, 1, 0, 20), 3, "B", 3.5),  # increasing
    ]
    spark.createDataFrame(
        rows_,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_traffic_max_lane_flow_argmax_and_tiebreak(spark, traffic_dir):
    import __spark_entry__ as ent

    out = ent.queries()["traffic_max_lane_flow"](spark, traffic_dir).collect()
    got = {
        (str(r.window_start), r.station): (r.max_flow, r.event_id, r.n_readings)
        for r in out
    }
    # every event lands in exactly 2 sliding windows -> 4 (window, station) rows
    assert len(got) == 4
    w0 = "2024-01-01 00:00:00"
    # tie on value 7.5 -> higher event_id wins (struct max == value DESC, id DESC)
    assert got[(w0, "A")] == (7.5, 4, 4)
    assert got[(w0, "B")] == (3.5, 6, 2)


def test_traffic_routes_slowdown_and_avg(spark, traffic_dir):
    import __spark_entry__ as ent

    out = ent.queries()["traffic_routes"](spark, traffic_dir).collect()
    got = {
        (str(r.window_start), r.route): (r.n_readings, r.avg_speed, r.slowdown)
        for r in out
    }
    assert len(got) == 4
    w0 = "2024-01-01 00:00:00"
    # route A: user 1 went 5.0 -> 4.0 (consecutive decrease) => slowdown
    assert got[(w0, "A")] == (4, (5.0 + 4.0 + 7.5 + 7.5) / 4, True)
    # route B only increases; single-user pairs never decrease => False
    assert got[(w0, "B")] == (2, (3.0 + 3.5) / 2, False)
