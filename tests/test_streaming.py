"""Streaming semantics — TestStream-style scripted micro-batches
(scio testing/package.scala:27-34; game-example windowed tests).

Covers: watermark window finalization (append mode), late-data drop beyond
the watermark, update-mode accumulation, and stateful running counts across
batches (applyInPandasWithState)."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from scio_spark.streaming.core import StreamFixture, run_to_memory, windowed_stream_agg
from scio_spark.streaming.state import running_counter


def ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


SCHEMA = "user string, team string, score int, event_time timestamp"


@pytest.fixture()
def fixture(spark):
    f = StreamFixture(spark, SCHEMA)
    yield f
    f.close()


def test_append_mode_emits_finalized_windows_and_drops_late(fixture):
    # NB Spark's late-data drop is best-effort while window state is alive;
    # it is GUARANTEED once the watermark evicted the window's state — so the
    # late row arrives two watermark advances after its window.
    fixture.add_batch([("u1", "red", 5, ts(1)), ("u2", "blue", 3, ts(4))])
    fixture.add_batch([("u3", "red", 7, ts(30))])  # watermark → 10:30
    fixture.add_batch([("u5", "red", 1, ts(45))])  # window 1 emitted + evicted
    fixture.add_batch([("u4", "red", 100, ts(2))])  # guaranteed-late → dropped

    def pipe(stream):
        return windowed_stream_agg(
            stream, "event_time", "10 minutes", "0 seconds", ["team"],
            [F.sum("score").alias("total")],
        )

    out = fixture.run(pipe, output_mode="append")
    rows = {(r["team"], r["window_start"].minute): r["total"] for r in out.collect()}
    # finalized window [10:00,10:10): late u4 score NOT included
    assert rows.get(("red", 0)) == 5
    assert rows.get(("blue", 0)) == 3
    # late row must not re-open the evicted window (exactly one red row @ :00)
    red_zero = [
        r for r in out.collect() if r["team"] == "red" and r["window_start"].minute == 0
    ]
    assert len(red_zero) == 1


def test_update_mode_emits_running_updates(fixture):
    fixture.add_batch([("u1", "red", 5, ts(1))])
    fixture.add_batch([("u2", "red", 3, ts(2))])

    def pipe(stream):
        return windowed_stream_agg(
            stream, "event_time", "10 minutes", "10 minutes", ["team"],
            [F.sum("score").alias("total")],
        )

    out = fixture.run(pipe, output_mode="update")
    totals = [r["total"] for r in out.collect() if r["team"] == "red"]
    # two micro-batches → two updates, accumulating (5 then 8)
    assert sorted(totals) == [5, 8]


def test_stateful_running_counter_across_batches(fixture):
    fixture.add_batch([("u1", "red", 1, ts(1)), ("u1", "red", 1, ts(2))])
    fixture.add_batch([("u1", "red", 1, ts(3)), ("u2", "blue", 1, ts(4))])

    def pipe(stream):
        return running_counter(stream.groupBy("user"))

    out = fixture.run(pipe, output_mode="update")
    per_key = {}
    for r in out.collect():
        per_key.setdefault(r["key"], []).append(r["total"])
    # u1: 2 after batch1, 3 after batch2 (state persisted); u2: 1
    assert sorted(per_key["u1"]) == [2, 3]
    assert per_key["u2"] == [1]


def test_session_window_streaming(fixture):
    fixture.add_batch(
        [("u1", "red", 1, ts(0)), ("u1", "red", 1, ts(5)), ("u1", "red", 1, ts(40))]
    )
    fixture.add_batch([("u1", "red", 1, ts(59))])  # advance watermark

    def pipe(stream):
        return (
            stream.withWatermark("event_time", "0 seconds")
            .groupBy(F.session_window("event_time", "10 minutes"), "user")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user", F.col("session_window.start").alias("start"), "n")
        )

    out = fixture.run(pipe, output_mode="append")
    finalized = {(r["start"].minute): r["n"] for r in out.collect()}
    # session 1 = events at 10:00+10:05 (closed by the 10:40 event)
    assert finalized.get(0) == 2
    # session 2 (10:40) closed by watermark at 10:59
    assert finalized.get(40) == 1


def test_foreach_batch_exactly_once_sink(fixture, tmp_path):
    from scio_spark.streaming.core import run_foreach_batch

    fixture.add_batch([("u1", "red", 5, ts(1))])
    fixture.add_batch([("u2", "blue", 3, ts(2))])

    out_dir = str(tmp_path / "epochs")

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    stream = fixture.stream().groupBy("team").count()
    epochs = run_foreach_batch(stream, sink, output_mode="update")
    assert epochs == [0, 1]
    spark = fixture.spark
    last = spark.read.parquet(f"{out_dir}/epoch=1")
    got = {r["team"]: r["count"] for r in last.collect()}
    assert got.get("blue") == 1


def test_stream_static_join_enrichment(fixture, spark):
    """Stream ⋈ static dimension (the streaming side of hashJoin): each
    event enriched with a broadcast-sized static table."""
    from pyspark.sql import functions as F

    fixture.add_batch([("u1", "red", 5, ts(1)), ("u2", "blue", 3, ts(2))])
    dim = spark.createDataFrame(
        [("red", "warm"), ("blue", "cool")], ["team", "palette"]
    )

    def pipe(stream):
        return stream.join(F.broadcast(dim), "team").select("user", "team", "palette")

    out = fixture.run(pipe, output_mode="append")
    got = {r["user"]: r["palette"] for r in out.collect()}
    assert got == {"u1": "warm", "u2": "cool"}


def test_stream_stream_join_with_watermarks(spark):
    """Stream-stream inner join with event-time range condition — the
    Structured Streaming form of joining two windowed collections
    (SURVEY §2.5). Both sides watermarked; state bounded by the interval."""
    import datetime as dt

    from pyspark.sql import functions as F

    from scio_spark.streaming.core import StreamFixture, run_to_memory

    clicks = StreamFixture(spark, "ad string, click_time timestamp")
    views = StreamFixture(spark, "ad string, view_time timestamp")
    t0 = dt.datetime(2024, 1, 1, 9, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    views.add_batch([("a1", m(0)), ("a2", m(1))])
    clicks.add_batch([("a1", m(5)), ("a2", m(90))])  # a2 clicks too late

    v = views.stream().withWatermark("view_time", "10 minutes")
    c = clicks.stream().withWatermark("click_time", "10 minutes")
    joined = v.join(
        c,
        (v["ad"] == c["ad"])
        & (c["click_time"] >= v["view_time"])
        & (c["click_time"] <= v["view_time"] + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select(v["ad"], "view_time", "click_time")
    out = run_to_memory(joined, output_mode="append")
    ads = [r["ad"] for r in out.collect()]
    assert ads == ["a1"]  # a2's click is outside the 30-minute window
    clicks.close(); views.close()


def test_transform_with_state_running_sum(fixture):
    """Next-gen stateful API (transformWithStateInPandas): named ValueState
    running sum across micro-batches."""
    import pytest as _pytest

    from scio_spark.streaming.state import transform_with_state

    fixture.add_batch([("u1", "red", 5, ts(1)), ("u1", "red", 2, ts(2))])
    fixture.add_batch([("u1", "red", 3, ts(3))])

    def update(prev, pdf):
        total = (prev[0] if prev else 0) + int(pdf["score"].sum())
        return (total,)

    def emit(key, state):
        return {"user": key[0], "total": state[0]}

    def pipe(stream):
        try:
            return transform_with_state(
                stream.groupBy("user"),
                output_schema="user string, total bigint",
                state_schema="total bigint",
                update_fn=update,
                emit_fn=emit,
            )
        except NotImplementedError:
            _pytest.skip("transformWithStateInPandas unavailable")

    out = fixture.run(pipe, output_mode="update")
    totals = sorted(r["total"] for r in out.collect() if r["user"] == "u1")
    assert totals == [7, 10]  # state carried across batches


def test_checkpoint_recovery_across_restarts(spark, tmp_path):
    """Stateful aggregation state survives a full query stop/restart via the
    checkpoint (Structured Streaming durability — the Beam runner's
    checkpointing analog). The second query instance resumes from state,
    not from zero."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def add_file(n, rows):
        spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{n}")

    def start():
        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        agg = stream.groupBy("team").agg(F.sum("score").alias("total"))
        return (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName("ckpt_sink")
            .start()
        )

    add_file(0, [("u1", "red", 5, ts(1))])
    q1 = start()
    q1.processAllAvailable()
    q1.stop()

    add_file(1, [("u2", "red", 7, ts(2))])
    q2 = start()  # fresh query instance, same checkpoint
    q2.processAllAvailable()
    got = {r["team"]: r["total"] for r in spark.table("ckpt_sink").collect()}
    q2.stop()
    # 5 (recovered from checkpointed state) + 7 (new batch)
    assert got == {"red": 12}


def test_maintain_rollup_incremental_upsert(spark, tmp_path):
    """Continuous-aggregate table: updates touch only affected window
    partitions and never drop unchanged keys from them."""
    import os

    from pyspark.sql import functions as F

    from scio_spark.streaming.core import maintain_rollup

    src = str(tmp_path / "src")
    out = str(tmp_path / "rollup")
    os.makedirs(src)

    def add_file(n, rows):
        spark.createDataFrame(rows, SCHEMA).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/b{n}")

    add_file(0, [("u1", "red", 5, ts(1)), ("u2", "blue", 3, ts(2))])
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = maintain_rollup(
        stream, out, "event_time", "10 minutes", "1 hour", ["team"],
        [F.sum("score").alias("total")],
    )
    q.processAllAvailable()
    # epoch 2: red updates in the SAME window; blue untouched
    add_file(1, [("u3", "red", 2, ts(4))])
    q.processAllAvailable()
    q.stop()

    # each epoch is evaluated once: the aggregation counts each upserted
    # (window, team) row once, not once per action the upsert runs
    progress = [json.loads(p.json) for p in q.recentProgress]
    updated = [
        p["stateOperators"][0]["numRowsUpdated"]
        for p in progress
        if p["numInputRows"] > 0
    ]
    assert updated == [2, 1]

    table = spark.read.parquet(out)
    got = {(r["team"], r["window_start"].minute): r["total"] for r in table.collect()}
    assert got == {("red", 0): 7, ("blue", 0): 3}  # blue survived the rewrite
    # exactly one row per (window, team) — upsert, not append
    assert table.count() == 2
    # default partition layout: daily chunk dirs (TimescaleDB shape)
    assert any(d.startswith("window_date=") for d in os.listdir(out))


def test_maintain_rollup_per_window_partitioning(spark, tmp_path):
    """partition_by='window' keeps the finest-grained one-dir-per-window
    layout for coarse windows."""
    import os

    from pyspark.sql import functions as F

    from scio_spark.streaming.core import maintain_rollup

    src = str(tmp_path / "srcw")
    out = str(tmp_path / "rollupw")
    os.makedirs(src)
    spark.createDataFrame(
        [("u1", "red", 5, ts(1)), ("u2", "blue", 3, ts(25))], SCHEMA
    ).repartition(1).write.parquet(f"{src}/b0")
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = maintain_rollup(
        stream, out, "event_time", "10 minutes", "1 hour", ["team"],
        [F.sum("score").alias("total")], partition_by="window",
    )
    q.processAllAvailable()
    q.stop()
    dirs = [d for d in os.listdir(out) if d.startswith("window_start=")]
    assert len(dirs) == 2  # one dir per distinct window
    got = {r["team"]: r["total"] for r in spark.read.parquet(out).collect()}
    assert got == {"red": 5, "blue": 3}


def test_continuous_rollup_stages_a_one_sided_split(spark, tmp_path):
    """The continuous_rollup contract query stages its events as two stream
    batches split at 2024-01-16 00:30; events all on one side leave the
    other batch empty instead of failing the staging."""
    import __spark_entry__ as ent

    spark.createDataFrame(
        [(1, ts(1), "click"), (2, ts(2), "click"), (3, ts(40), "view")],
        "event_id long, ts timestamp, event_type string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = ent.q_continuous_rollup(spark, str(tmp_path)).collect()
    got = {(r["window_start"].hour, r["event_type"]): r["n"] for r in out}
    assert got == {(10, "click"): 2, (10, "view"): 1}


def test_leaderboard_early_and_final_panes(fixture):
    """LeaderBoard.scala:111-170 semantics subset: accumulating early panes
    per processing-time firing, final value fixed once the watermark passes
    the window end."""
    from scio_spark.streaming.core import early_firing_panes

    fixture.add_batch([("u1", "red", 5, ts(1))])
    fixture.add_batch([("u2", "red", 3, ts(2))])       # same window: 5 → 8
    fixture.add_batch([("u3", "blue", 7, ts(45))])     # watermark evicts w0

    panes = early_firing_panes(
        fixture.stream(), "event_time", "10 minutes", "0 seconds", ["team"],
        [F.sum("score").alias("total")],
    )
    fired = [(e, rows_) for e, rows_ in panes if rows_]
    # one pane per scripted micro-batch (the trigger); Spark may add a
    # trailing empty epoch to commit state eviction
    assert len(fired) == 3
    red = [
        r["total"]
        for _, rows_ in panes
        for r in rows_
        if r["team"] == "red" and r["window_start"].minute == 0
    ]
    # early firings ACCUMULATE (Beam accumulatingFiredPanes): 5, then 8,
    # and the evicting batch emits no further red pane → final stays 8
    assert red == [5, 8]
    last_epoch_teams = {r["team"] for r in fired[-1][1]}
    assert last_epoch_teams == {"blue"}


def test_late_firing_panes_early_ontime_late(fixture):
    """AfterWatermark...withLateFirings approximation (LeaderBoard.scala:
    111-170): one window fires an EARLY pane (watermark still inside the
    window), an ON_TIME pane (watermark crossed its end in the batch that
    also changed it), and a LATE pane (a late-but-within-allowedLateness row
    re-fired it). Panes accumulate and pane_index increments per firing."""
    from scio_spark.streaming.core import late_firing_panes

    # window [10:00, 10:10), allowed lateness 30 min
    fixture.add_batch([("u1", "red", 1, ts(1))])              # early
    fixture.add_batch([("u1", "red", 1, ts(5)), ("u1", "red", 1, ts(12))])
    # ^ watermark(on-time) crosses 10:10 in this batch → ON_TIME firing
    fixture.add_batch([("u1", "red", 1, ts(2))])              # late, admitted

    panes = late_firing_panes(
        fixture.stream(), "event_time", "10 minutes", "30 minutes",
        ["team"], [F.count(F.lit(1)).alias("n")],
    )
    w0 = [
        p for p in panes
        if p["row"]["window_start"] == ts(0) and p["row"]["team"] == "red"
    ]
    assert [p["timing"] for p in w0] == ["EARLY", "ON_TIME", "LATE"]
    assert [p["pane_index"] for p in w0] == [0, 1, 2]
    assert [p["row"]["n"] for p in w0] == [1, 2, 3]  # ACCUMULATING panes


def test_ensure_event_time_casts_ntz(spark):
    """TIMESTAMP_NTZ event-time columns (parquet without the UTC-adjustment
    flag under inferTimestampNTZ) must be normalized to TIMESTAMP before
    withWatermark — wall-clock preserving under the UTC session tz."""
    from scio_spark.streaming.core import ensure_event_time

    df = spark.createDataFrame([(ts(1),)], "event_time timestamp_ntz")
    assert dict(df.dtypes)["event_time"] == "timestamp_ntz"
    fixed = ensure_event_time(df, "event_time")
    assert dict(fixed.dtypes)["event_time"] == "timestamp"
    assert fixed.collect()[0]["event_time"] == ts(1)  # wall clock unchanged
    plain = spark.createDataFrame([(ts(1),)], "event_time timestamp")
    assert ensure_event_time(plain, "event_time") is plain


def test_stream_dedup_within_watermark(fixture):
    """dropDuplicatesWithinWatermark: a duplicate key arriving in a later
    micro-batch inside the horizon is dropped; distinct keys all survive."""
    from scio_spark.streaming.core import stream_dedup

    fixture.add_batch([("u1", "red", 1, ts(1)), ("u2", "blue", 2, ts(2))])
    fixture.add_batch([("u1", "red", 9, ts(3)), ("u3", "red", 3, ts(4))])

    out = run_to_memory(
        stream_dedup(
            fixture.stream(), ["user", "team"], ts_col="event_time",
            within="1 hour",
        ).select("user", "team"),
        output_mode="append",
    )
    got = sorted((r["user"], r["team"]) for r in out.collect())
    assert got == [("u1", "red"), ("u2", "blue"), ("u3", "red")]


def test_stream_dedup_requires_ts_for_bounded_state(fixture):
    from scio_spark.streaming.core import stream_dedup

    with pytest.raises(ValueError, match="requires ts_col"):
        stream_dedup(fixture.stream(), ["user"], within="1 hour")


def test_pane_sink_matches_test_harness_no_driver_rows(fixture, tmp_path, monkeypatch):
    """run_pane_sink must produce the SAME timing/pane_index/value sequence
    as the late_firing_panes test harness — but via foreachBatch appends to
    a table, with NO pane row collect()ed to the driver (collect is trapped
    for the streaming run; label_panes is an ordinary batch job read back)."""
    from pyspark.sql import DataFrame as SparkDF

    from scio_spark.streaming.core import run_pane_sink

    # same scripted scenario as test_late_firing_panes_early_ontime_late
    fixture.add_batch([("u1", "red", 1, ts(1))])              # early
    fixture.add_batch([("u1", "red", 1, ts(5)), ("u1", "red", 1, ts(12))])
    fixture.add_batch([("u1", "red", 1, ts(2))])              # late, admitted

    sink = str(tmp_path / "panes")
    real_collect = SparkDF.collect
    calls = {"n": 0}

    def counting_collect(self, *a, **k):
        calls["n"] += 1
        return real_collect(self, *a, **k)

    monkeypatch.setattr(SparkDF, "collect", counting_collect)
    labeled = run_pane_sink(
        fixture.stream(), "event_time", "10 minutes", "30 minutes",
        ["team"], [F.count(F.lit(1)).alias("n")], sink,
    )
    assert calls["n"] == 0  # the streaming path never collected pane rows
    monkeypatch.setattr(SparkDF, "collect", real_collect)

    w0 = sorted(
        (
            (r["pane_index"], r["timing"], r["n"])
            for r in labeled.collect()
            if r["window_start"] == ts(0) and r["team"] == "red"
        ),
    )
    assert w0 == [(0, "EARLY", 1), (1, "ON_TIME", 2), (2, "LATE", 3)]
    # sink is a plain parquet table — re-labelable without the query handle
    from scio_spark.streaming.core import label_panes

    again = label_panes(fixture.spark, sink, ["team"])
    assert again.count() == labeled.count()


def test_write_epoch_trace_overlap_is_idempotent(fixture, tmp_path):
    """label_panes dedups the epoch trace by epoch (groupBy max), so
    flushing recentProgress twice — the overlap a production timer hits —
    must not change labels."""
    from scio_spark.streaming.core import (
        label_panes, pane_sink, write_epoch_trace,
    )

    fixture.add_batch([("u1", "red", 1, ts(1))])
    fixture.add_batch([("u1", "red", 1, ts(12))])
    sink = str(tmp_path / "panes")
    q = pane_sink(
        fixture.stream(), "event_time", "10 minutes", "30 minutes",
        ["team"], [F.count(F.lit(1)).alias("n")], sink,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n1 = write_epoch_trace(q, sink)
    n2 = write_epoch_trace(q, sink)  # same progress again
    assert n1 == n2 > 0
    labeled = label_panes(fixture.spark, sink, ["team"]).collect()
    assert len(labeled) == len({(r["window_start"], r["team"], r["epoch"]) for r in labeled})
    assert {r["pane_index"] for r in labeled} <= {0, 1}


# ---------------------------------------------- discarding panes


def test_discarding_panes_emit_deltas_and_evict(spark):
    """discardingFiredPanes: each firing carries only the batch's delta;
    deltas sum to the window total; state evicts on watermark passage
    (next-window data still processes cleanly)."""
    from scio_spark.streaming.core import StreamFixture, discarding_panes

    f = StreamFixture(spark, "k string, v long, event_time timestamp")
    try:
        f.add_batch([("a", 10, ts(1)), ("a", 5, ts(2)), ("b", 1, ts(3))])
        f.add_batch([("a", 7, ts(5)), ("b", 2, ts(59))])
        f.add_batch([("a", 100, ts(59, 59))])
        out = f.run(
            lambda s: discarding_panes(
                s, "event_time", "1 hour", "0 seconds", ["k"], "v"
            ),
            output_mode="update",
        )
        rows = sorted(
            (r.k, r.pane_index, r.pane_value, r.total_so_far)
            for r in out.collect()
        )
        assert rows == [
            ("a", 0, 15, 15),   # batch 1 delta only
            ("a", 1, 7, 22),    # batch 2 delta only — NOT the running 22
            ("a", 2, 100, 122),
            ("b", 0, 1, 1),
            ("b", 1, 2, 3),
        ]
    finally:
        f.close()


def test_discarding_panes_single_batch_equals_batch_agg(spark):
    """One micro-batch ⇒ exactly one pane per (key, window), equal to the
    batch aggregation — the oracle-mode contract."""
    from scio_spark.streaming.core import StreamFixture, discarding_panes

    f = StreamFixture(spark, "k string, v long, event_time timestamp")
    try:
        f.add_batch(
            [("a", 10, ts(1)), ("a", 5, ts(40)), ("b", 2, ts(3))]
        )
        out = f.run(
            lambda s: discarding_panes(
                s, "event_time", "30 minutes", "0 seconds", ["k"], "v"
            ),
            output_mode="update",
        )
        rows = {
            (r.k, str(r.window_start)): (r.pane_index, r.pane_value)
            for r in out.collect()
        }
        assert rows == {
            ("a", "2024-01-01 10:00:00"): (0, 10),
            ("a", "2024-01-01 10:30:00"): (0, 5),
            ("b", "2024-01-01 10:00:00"): (0, 2),
        }
    finally:
        f.close()


# ---------------------------------------------- element-count trigger


def test_element_count_panes_accumulating_across_batches(spark):
    """AfterPane.elementCountAtLeast(3), ACCUMULATING: the counter
    carries across micro-batches (2 elements in batch 1 + 1 in batch 2
    fire the first pane), totals are running aggregates, pane_index
    increments per key."""
    from scio_spark.streaming.core import StreamFixture, element_count_panes

    f = StreamFixture(spark, "k string, v long, seq long")
    try:
        f.add_batch([("a", 10, 1), ("a", 20, 2)])           # no pane yet
        f.add_batch([("a", 30, 3), ("a", 40, 4), ("b", 1, 1)])  # a fires @3
        f.add_batch([("a", 50, 5), ("a", 60, 6), ("b", 2, 2), ("b", 3, 3)])
        out = f.run(
            lambda s: element_count_panes(s, ["k"], "v", 3, ["seq"]),
            output_mode="update",
        )
        rows = {(r.k, r.pane_index): (r.seen, r.total) for r in out.collect()}
        assert rows[("a", 0)] == (3, 60)    # 10+20+30
        assert rows[("a", 1)] == (6, 210)   # running total of all six
        assert rows[("b", 0)] == (3, 6)     # 1+2+3, fired in batch 3
        assert len(rows) == 3               # a's 7th element never fires
    finally:
        f.close()


def test_element_count_panes_discarding_deltas(spark):
    """DISCARDING mode (discardingFiredPanes): each pane carries only
    the n elements since the last firing; pane deltas sum to the
    accumulating total."""
    from scio_spark.streaming.core import StreamFixture, element_count_panes

    f = StreamFixture(spark, "k string, v long, seq long")
    try:
        f.add_batch([("a", i, i) for i in range(1, 7)])  # 1..6 in one batch
        out = f.run(
            lambda s: element_count_panes(
                s, ["k"], "v", 3, ["seq"], accumulating=False
            ),
            output_mode="update",
        )
        rows = {r.pane_index: r.total for r in out.collect()}
        assert rows == {0: 6, 1: 15}  # 1+2+3, then 4+5+6 only
    finally:
        f.close()


def test_element_count_panes_in_batch_ordering(spark):
    """Within a micro-batch, elements are processed in order_cols order —
    out-of-order staging must not change which elements land in a pane."""
    from scio_spark.streaming.core import StreamFixture, element_count_panes

    f = StreamFixture(spark, "k string, v long, seq long")
    try:
        f.add_batch([("a", 30, 3), ("a", 10, 1), ("a", 20, 2), ("a", 99, 4)])
        out = f.run(
            lambda s: element_count_panes(s, ["k"], "v", 3, ["seq"]),
            output_mode="update",
        )
        rows = [(r.pane_index, r.seen, r.total) for r in out.collect()]
        assert rows == [(0, 3, 60)]  # seq 1,2,3 — not the staged order
    finally:
        f.close()


def test_refreshing_side_input_picks_up_replaced_table(spark, tmp_path):
    """Per-batch fresh read: a side table atomically replaced between
    micro-batches enriches the NEXT batch with the new content (the scio
    RefreshingSideInputExample contract). A plain stream-static join
    cannot do this — its file index snapshots at plan time."""
    from scio_spark.streaming.core import StreamFixture, refreshing_side_input

    side = str(tmp_path / "side")
    spark.createDataFrame(
        [("a", "v1"), ("b", "v1")], "k string, label string"
    ).repartition(1).write.mode("overwrite").parquet(side)

    f = StreamFixture(spark, "k string, x int")
    got = []

    def sink(df, _bid):
        got.extend((r.k, r.x, r.label) for r in df.collect())

    f.add_batch([("a", 1)])
    q = refreshing_side_input(f.stream(), side, "k", sink)
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [("a", "v2")], "k string, label string"
        ).repartition(1).write.mode("overwrite").parquet(side)
        f.add_batch([("a", 2), ("b", 3)])
        q.processAllAvailable()
    finally:
        q.stop()
        f.close()
    # batch 1 joined v1; batch 2 joined v2 (and b, dropped from v2, goes
    # NULL under the left join — the refresh is total, not incremental)
    assert sorted(got) == [("a", 1, "v1"), ("a", 2, "v2"), ("b", 3, None)]


def _drive_wall_clock_panes(spark, panes, until, deadline_s=60.0, n_state=2):
    """Start an update-mode foreachBatch query over ``panes`` with a fast
    processing-time trigger and poll the captured pane rows until
    ``until(rows)`` is truthy or the deadline passes. Returns (rows, stop)
    — caller may keep driving via stop()/the returned list."""
    import time

    from scio_spark.streaming.core import state_partitions

    rows: list = []

    def cap(df, _bid):
        rows.extend(df.collect())

    with state_partitions(spark, n_state):
        q = (
            panes.writeStream.outputMode("update")
            .foreachBatch(cap)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def wait(pred, deadline=deadline_s):
        end = time.time() + deadline
        while time.time() < end:
            if pred(rows):
                return True
            time.sleep(0.25)
        return False

    assert wait(until), f"no pane satisfied the predicate; got {rows}"
    return rows, q, wait


def test_processing_time_panes_fire_on_wall_clock_not_batch_cadence(spark):
    """AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d),
    repeated forever (LeaderBoard user-score trigger): two micro-batches
    landing within the delay collapse into ONE pane (a per-micro-batch
    spelling would fire two), the pane fires in a DATA-LESS batch after
    d, and the next element starts pane 2."""
    from scio_spark.streaming.core import StreamFixture, processing_time_panes

    f = StreamFixture(spark, "user string, score int")
    # both staged BEFORE start → two back-to-back micro-batches, well
    # inside the 5 s pane delay even on a loaded machine
    f.add_batch([("u1", 10)])
    f.add_batch([("u1", 5), ("u2", 7)])
    panes = processing_time_panes(
        f.stream(), ["user"], "score", delay_ms=5000
    )
    rows, q, wait = _drive_wall_clock_panes(
        spark, panes, lambda rs: {r.user for r in rs} >= {"u1", "u2"}
    )
    try:
        u1 = [r for r in rows if r.user == "u1"]
        assert [(r.pane_index, r.pane_value, r.total_so_far) for r in u1] == [
            (0, 15, 15)
        ], "both micro-batches must collapse into one wall-clock pane"
        assert [
            (r.pane_index, r.pane_value) for r in rows if r.user == "u2"
        ] == [(0, 7)]
        # Repeatedly.forever: a fresh element arms pane 2; ACCUMULATING
        # panes carry the full running aggregate
        f.add_batch([("u1", 3)])
        assert wait(
            lambda rs: any(r.user == "u1" and r.pane_index == 1 for r in rs)
        )
        p2 = [r for r in rows if r.user == "u1" and r.pane_index == 1]
        assert [(r.pane_value, r.total_so_far) for r in p2] == [(18, 18)]
    finally:
        q.stop()
        f.close()


def test_processing_time_panes_discarding_and_eviction(spark):
    """DISCARDING panes carry only the delta since the last firing; an
    idle key's state is dropped evict_after_ms after a firing, so a later
    element starts from zero (wall-clock-bounded state)."""
    import time

    from scio_spark.streaming.core import StreamFixture, processing_time_panes

    f = StreamFixture(spark, "user string, score int")
    f.add_batch([("u1", 1)])
    f.add_batch([("u1", 2)])
    panes = processing_time_panes(
        f.stream(),
        ["user"],
        "score",
        delay_ms=2500,
        accumulating=False,
        evict_after_ms=2000,
    )
    rows, q, wait = _drive_wall_clock_panes(spark, panes, lambda rs: len(rs) >= 1)
    try:
        assert [(r.pane_index, r.pane_value, r.total_so_far) for r in rows] == [
            (0, 3, 3)
        ]
        # let the eviction timer fire (2 s after the pane), with margin
        time.sleep(6)
        f.add_batch([("u1", 10)])
        assert wait(lambda rs: len(rs) >= 2)
        # evicted state restarts the key: totals reset, pane_index restarts
        assert [(r.pane_index, r.pane_value, r.total_so_far) for r in rows[1:]] == [
            (0, 10, 10)
        ]
    finally:
        q.stop()
        f.close()
