"""Windowing and streaming contract queries: batch fixed, sliding,
session and calendar windows; Structured Streaming windows, triggers and
panes, late data, stateful and joined streams, the continuous rollup; and
the sessionized example pipelines (top sessions, traffic, spam users)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_window_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed/tumbling windows (SCollection.scala:1229 withFixedWindows) —
    1h windows × event_type."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    return W.fixed_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").alias("total"),
        ],
    ).select("window_start", "event_type", "n", "total")


ORACLE_WINDOW_FIXED = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events GROUP BY 1, 2
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (:1240) — 1h size / 30m slide (every event in exactly
    2 windows)."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    slid = W.with_sliding_windows(ev, "ts", "1 hour", "30 minutes")
    return (
        slid.groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_WINDOW_SLIDING = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events
)
SELECT window_start, COUNT(*) AS n FROM assigned GROUP BY 1
"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (:1258) — 30min gap per user (session_window in batch;
    oracle = gaps-and-islands)."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    return W.session_agg(
        ev, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")]
    ).select("user_id", "session_start", "n_events")


ORACLE_WINDOW_SESSION = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM islands GROUP BY user_id, sid
"""


def q_window_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar windows (:1275 windowByMonths) — monthly order revenue."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").df
    return (
        W.with_calendar_window(o, "o_orderdate", "month")
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias(
                "revenue"
            ),
        )
    )


ORACLE_WINDOW_CALENDAR = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS window_start,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: readStream over the events parquet,
    watermark + tumbling window count, update-mode memory sink driven to
    completion (streaming/core.py). Single-batch input ⇒ output equals the
    batch aggregation, so the DuckDB oracle applies."""
    from scio_spark.streaming.core import (
        ensure_event_time, run_to_memory, windowed_stream_agg,
    )

    sc = _ctx(spark)
    batch = _t(sc, sf_dir, "events").df
    # file-stream source needs a directory: scope sf_dir to the events file
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
    stream = ensure_event_time(stream, "ts")
    res = windowed_stream_agg(
        stream, "ts", "1 hour", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n")],
    ).select(
        # the watermark path runs on LTZ (ensure_event_time); surface the
        # window bound as TIMESTAMP_NTZ to match the NTZ source + oracle
        # (value-preserving under the pinned UTC session tz)
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
    )
    # 8 state stores: sized to fixture state volume (capacity knob, see
    # streaming.core.state_partitions; scales UP with stream volume)
    return run_to_memory(res, output_mode="update", num_state_partitions=8)


ORACLE_STREAMING_WINDOW = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_element_count_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-count trigger — ``Repeatedly.forever(
    AfterPane.elementCountAtLeast(25))`` with ACCUMULATING panes
    (reference: scio WindowedSCollection.scala:31-38 trigger surface;
    previously a fully-documented gap, §4.4.1): a custom stateful
    operator (streaming/core.py element_count_panes over
    applyInPandasWithState) fires a pane at every 25th event per user
    carrying the running spend total. Values pre-scaled to integer cents
    so sums are engine-exact; single-batch input with in-batch (ts,
    event_id) ordering makes each pane's (seen, total) deterministic and
    SQL-replayable as a cumulative window at rn % 25 = 0."""
    from scio_spark.streaming.core import element_count_panes, run_to_memory

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
    stream = stream.withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    panes = element_count_panes(
        stream, ["user_id"], "cents", 25, ["ts", "event_id"]
    )
    return run_to_memory(panes, output_mode="update", num_state_partitions=8)


ORACLE_ELEMENT_COUNT_PANES = """
WITH e AS (
  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v, ts, event_id
  FROM events
),
r AS (
  SELECT user_id, v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM e
)
SELECT user_id, CAST(rn // 25 - 1 AS BIGINT) AS pane_index,
       rn AS seen, CAST(cum AS BIGINT) AS total
FROM r WHERE rn % 25 = 0
"""


def q_window_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowByWeeks (SCollection.scala:1275-1300) — ISO-week order counts
    (both engines truncate weeks to Monday)."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").df
    return (
        W.with_calendar_window(o, "o_orderdate", "week")
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_WINDOW_WEEKLY = """
SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS window_start,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def q_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming (applyInPandasWithState running counter,
    streaming/state.py) driven to completion; single-batch input ⇒ the
    running total equals the exact per-key count (oracle-checkable)."""
    from scio_spark.streaming.core import run_to_memory
    from scio_spark.streaming.state import running_counter

    _ctx(spark)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    counted = running_counter(
        stream.groupBy("event_type"),
        output_schema="key string, total bigint",
    )
    # 8 stores re-A/B'd cold r16 (VERDICT item 7): 8 -> cold {1.26, 1.46,
    # 1.70}, 4 -> {1.30, 1.35, 1.36}, 16 -> {1.42, 1.50, 1.71}; 8 and 4
    # tie inside noise, 16 loses — keep 8 (capacity headroom over 4).
    return run_to_memory(counted, output_mode="update", num_state_partitions=8)


ORACLE_STATEFUL_STREAM = """
SELECT event_type AS key, COUNT(*) AS total FROM events GROUP BY event_type
"""


def q_allowed_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allowedLateness / guaranteed late-data DROP (WindowOptions,
    WindowedSCollection.scala:31-38 → streaming/core.py): a scripted
    three-batch stream — hour-0 events with even event_id arrive on time,
    hour-3 events advance the watermark past hour-0's window end, then the
    ODD-id hour-0 events replay guaranteed-late (two watermark advances
    after their window closed, state already evicted). Append mode emits
    the finalized hour-0 window WITHOUT the late rows; the oracle counts
    only the even-id stratum, so any failure to drop hash-mismatches."""
    from scio_spark.streaming.core import (
        StreamFixture,
        run_to_memory,
        windowed_stream_agg,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    def hour(h):
        return ev.filter(
            f"ts >= TIMESTAMP '2024-01-01 0{h}:00:00'"
            f" AND ts < TIMESTAMP '2024-01-01 0{h + 1}:00:00'"
        )

    def recs(df):  # scripted fixtures are hour-slices — driver-sized
        return [(r["event_id"], r["ts"], r["event_type"]) for r in df.collect()]

    f = StreamFixture(spark, "event_id long, ts timestamp, event_type string")
    try:
        f.add_batch(recs(hour(0).filter("event_id % 2 = 0")))
        f.add_batch(recs(hour(3)))  # watermark past hour-0's end
        f.add_batch(recs(hour(5)))  # hour-0 window emitted + state evicted
        # two watermark advances after its window — the drop is GUARANTEED
        # (while state is alive it is best-effort; see test_streaming)
        f.add_batch(recs(hour(0).filter("event_id % 2 = 1")))
        res = windowed_stream_agg(
            f.stream(), "ts", "1 hour", "30 minutes", ["event_type"],
            [F.count(F.lit(1)).alias("n")],
        ).select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
        # 4 state stores: fixture-sized state (A/B: 4.2 s vs 4.8 s at 16,
        # maintenance-bound) — a capacity knob, raise with real cardinality
        return run_to_memory(res, output_mode="append", num_state_partitions=4)
    finally:
        f.close()


ORACLE_ALLOWED_LATENESS = """
SELECT TIMESTAMP '2024-01-01 00:00:00' AS window_start, event_type,
       COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-01 01:00:00'
  AND event_id % 2 = 0
GROUP BY event_type
UNION ALL
SELECT TIMESTAMP '2024-01-01 03:00:00', event_type, COUNT(*)
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 03:00:00'
  AND ts <  TIMESTAMP '2024-01-01 04:00:00'
GROUP BY event_type
"""


def q_refreshing_side_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refreshing side input (scio RefreshingSideInputExample.scala — a
    Guava Supplier re-polled per bundle; streaming/core.py
    refreshing_side_input re-reads the side path per micro-batch inside
    foreachBatch — a naive stream-static join snapshots the side's file
    index at plan time and never refreshes). Scripted two-batch stream of
    customer slices: batch 1 enriches against side v1 (nations of regions
    0-2), the side table is atomically republished as v2 (regions 2-4)
    between batches, batch 2 must see v2. Each batch's sink keeps only a
    per-batch group count (driver sees group counts, never rows); any
    staleness — batch 2 served v1, or a plan-time snapshot error — shifts
    counts between phases and hash-mismatches the oracle."""
    from scio_spark.streaming.core import StreamFixture, refreshing_side_input

    side_path = _rt_path(sf_dir, "refresh_side")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )

    def publish(regions: str, phase: str) -> None:
        nation.filter(f"n_regionkey IN {regions}").select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.lit(phase).alias("phase"),
        ).repartition(1).write.mode("overwrite").parquet(side_path)

    def recs(pred: str):  # ~1% customer slice — scripted fixture size
        return [
            (r["c_custkey"], r["c_nationkey"])
            for r in cust.filter(pred).collect()
        ]

    agg_rows: list[tuple[str, int]] = []

    def sink(df: DataFrame, _bid: int) -> None:
        agg_rows.extend(
            (r["phase"], r["n"])
            for r in df.groupBy(
                F.coalesce(F.col("phase"), F.lit("none")).alias("phase")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    publish("(0, 1, 2)", "v1")
    f = StreamFixture(spark, "c_custkey long, c_nationkey int")
    f.add_batch(recs("c_custkey % 100 = 0"))
    q = refreshing_side_input(f.stream(), side_path, "c_nationkey", sink)
    try:
        q.processAllAvailable()  # batch 1 joined v1
        publish("(2, 3, 4)", "v2")  # atomic republish between batches
        f.add_batch(recs("c_custkey % 100 = 1"))
        q.processAllAvailable()  # batch 2 must join v2
    finally:
        q.stop()
        f.close()
    return (
        spark.createDataFrame(agg_rows, "phase string, n long")
        .groupBy("phase")
        .agg(F.sum("n").cast("long").alias("n_customers"))
    )


ORACLE_REFRESHING_SIDE_INPUT = """
WITH e1 AS (
  SELECT COALESCE(s.phase, 'none') AS phase
  FROM (SELECT c_nationkey FROM customer WHERE c_custkey % 100 = 0) b
  LEFT JOIN (SELECT n_nationkey, 'v1' AS phase FROM nation
             WHERE n_regionkey IN (0, 1, 2)) s
    ON b.c_nationkey = s.n_nationkey),
e2 AS (
  SELECT COALESCE(s.phase, 'none') AS phase
  FROM (SELECT c_nationkey FROM customer WHERE c_custkey % 100 = 1) b
  LEFT JOIN (SELECT n_nationkey, 'v2' AS phase FROM nation
             WHERE n_regionkey IN (2, 3, 4)) s
    ON b.c_nationkey = s.n_nationkey)
SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (SELECT phase FROM e1 UNION ALL SELECT phase FROM e2)
GROUP BY phase
"""


def q_processing_time_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)
    trigger (scio LeaderBoard.scala:110-121 user-score exemplar;
    streaming/core.py processing_time_panes) — panes fire at WALL-CLOCK
    cadence via processing-time state timeouts, delivered in DATA-LESS
    micro-batches; previously the documented §4.4.1 residual. Scripted for
    determinism: ONE staged micro-batch (a 2% customer slice keyed by
    mktsegment, integer nationkey values), pane delay 1 s — every key
    fires exactly its pane 0 with the full per-key sum, in a batch that
    carries no data (the stream is drained well before the deadline). Any
    per-micro-batch firing, double firing, or missed data-less-batch
    delivery changes pane_index/row-count and hash-mismatches the oracle.
    Multi-batch pane collapse, DISCARDING mode, and wall-clock eviction
    are wall-clock-racy under load and stay pytest-pinned
    (tests/test_streaming.py)."""
    import time

    from scio_spark.streaming.core import (
        StreamFixture,
        processing_time_panes,
        state_partitions,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        "c_custkey % 50 = 0"
    )
    batch = [(r["c_mktsegment"], r["c_nationkey"]) for r in cust.collect()]
    n_keys = len({seg for seg, _ in batch})  # 5 at sf>=0.01, fewer at 0.001
    f = StreamFixture(spark, "segment string, v int")
    f.add_batch(batch)
    # pane delay is pure latency here (ONE staged batch: the deadline
    # arms at its processing time; no second batch can split the pane) —
    # r15-opt: 1000 → 400 ms, > one 300 ms trigger (soaked 3x stable)
    panes = processing_time_panes(
        f.stream(), ["segment"], "v", delay_ms=400
    )
    rows: list = []

    def cap(df: DataFrame, _bid: int) -> None:
        rows.extend(
            (r["segment"], r["pane_index"], r["pane_value"], r["total_so_far"])
            for r in df.collect()
        )

    # 4 state stores: fixture-sized state (see allowed_lateness A/B)
    with state_partitions(spark, 4):
        q = (
            panes.writeStream.outputMode("update")
            .foreachBatch(cap)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len({r[0] for r in rows}) < n_keys:
            time.sleep(0.05)
    finally:
        q.stop()
        f.close()
    return spark.createDataFrame(
        rows,
        "segment string, pane_index long, pane_value long, total_so_far long",
    )


ORACLE_PROCESSING_TIME_PANES = """
SELECT c_mktsegment AS segment, CAST(0 AS BIGINT) AS pane_index,
       CAST(SUM(c_nationkey) AS BIGINT) AS pane_value,
       CAST(SUM(c_nationkey) AS BIGINT) AS total_so_far
FROM customer WHERE c_custkey % 50 = 0
GROUP BY c_mktsegment
"""


def q_watermark_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AfterWatermark.pastEndOfWindow().withLateFirings(
    AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)) — the
    full LeaderBoard team-score trigger (LeaderBoard.scala:111-170;
    streaming/core.py watermark_panes), with every §4.4.1 bound removed:
    the ON_TIME pane is delivered in a DATA-LESS micro-batch (no
    data-carrying batch needed at the crossing) and the LATE pane fires
    on a WALL-CLOCK delay, not the batch cadence. Scripted: hour-0
    even-id events arrive on time keyed by event_type (1-hour windows,
    6-hour lateness); an hour-3 batch advances the on-time watermark past
    hour-0's end — each even-stratum type's ON_TIME pane then fires with
    no new data; the odd-id hour-0 rows replay late-but-admissible
    (delayed watermark ≈ 21:59 prior day) and their LATE panes fire 1 s
    later with the ACCUMULATED total. Types seen only in the odd stratum
    first fire after the crossing, so their first pane is the (late-
    armed) ON_TIME value — the oracle derives both pane sets exactly from
    the two strata; any missed data-less delivery, double firing, stale
    accumulation, or dropped admissible row changes rows/values and
    hash-mismatches."""
    import time

    from scio_spark.streaming.core import (
        StreamFixture,
        state_partitions,
        watermark_panes,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )

    def hour(h, par=None):
        df = ev.filter(
            f"ts >= TIMESTAMP '2024-01-01 0{h}:00:00'"
            f" AND ts < TIMESTAMP '2024-01-01 0{h + 1}:00:00'"
        )
        return df if par is None else df.filter(f"event_id % 2 = {par}")

    def recs(df):  # hour-slice fixtures — driver-sized
        return [(r["event_type"], r["ts"], 1) for r in df.collect()]

    even, odd = recs(hour(0, 0)), recs(hour(0, 1))
    even_types, odd_types = {r[0] for r in even}, {r[0] for r in odd}
    # every type fires ON_TIME once (even-stratum at the crossing,
    # odd-only via its late-armed first pane); types in BOTH strata add
    # a LATE pane
    expected = {(t, "ON_TIME") for t in even_types | odd_types} | {
        (t, "LATE") for t in even_types & odd_types
    }
    f = StreamFixture(spark, "event_type string, ts timestamp, one int")
    f.add_batch(even)
    # late delay is latency, not a race margin: the deadline arms at the
    # processing time of the (single) late batch, so the pane can never
    # fire early or split — shrinking it only trims wall time (r15-opt:
    # 1000 → 400 ms, > one 300 ms trigger so the firing lands on the
    # next sweep; soaked 3x stable)
    panes = watermark_panes(
        f.stream(), "ts", "1 hour", "6 hours", ["event_type"], "one",
        late_delay_ms=400,
    )
    rows: list = []

    def cap(df: DataFrame, _bid: int) -> None:
        rows.extend(
            (r["event_type"], r["timing"], r["pane_index"], r["pane_value"],
             r["total_so_far"])
            for r in df.collect()
        )

    def wait(pred, deadline_s=90.0) -> None:
        end = time.time() + deadline_s
        while time.time() < end and not pred():
            time.sleep(0.05)

    # 2 state stores: fixture-sized state; the sweeps re-invoke every
    # armed key each trigger, so per-batch store overhead dominates wall
    # time here (A/B: 7.8 s at 4, 6.3 s at 2, 6.0 s at 1 on sf0.1)
    with state_partitions(spark, 2):
        q = (
            panes.writeStream.outputMode("update")
            .foreachBatch(cap)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
    try:
        f.add_batch(recs(hour(3)))  # on-time watermark → ~03:59 > 01:00
        wait(lambda: even_types <= {t for t, tm, *_ in rows if tm == "ON_TIME"})
        f.add_batch(odd)  # late-but-admissible replay
        wait(lambda: {(t, tm) for t, tm, *_ in rows} >= expected)
    finally:
        q.stop()
        f.close()
    return spark.createDataFrame(
        rows,
        "event_type string, timing string, pane_index long, "
        "pane_value long, total_so_far long",
    )


ORACLE_WATERMARK_PANES = """
WITH h0 AS (
  SELECT event_type, event_id FROM events
  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts <  TIMESTAMP '2024-01-01 01:00:00'),
e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM h0 WHERE event_id % 2 = 0 GROUP BY event_type),
o AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM h0 WHERE event_id % 2 = 1 GROUP BY event_type)
SELECT COALESCE(e.event_type, o.event_type) AS event_type,
       'ON_TIME' AS timing,
       CAST(0 AS BIGINT) AS pane_index,
       COALESCE(e.n, o.n) AS pane_value,
       COALESCE(e.n, o.n) AS total_so_far
FROM e FULL OUTER JOIN o ON e.event_type = o.event_type
UNION ALL
SELECT e.event_type, 'LATE', CAST(1 AS BIGINT), e.n + o.n, e.n + o.n
FROM e JOIN o ON e.event_type = o.event_type
"""


def q_custom_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withWindowFn custom window assignment (SCollection.scala:1191,
    operators/windows.with_window_fn): 90-minute windows anchored at a
    15-minute offset — a WindowFn no built-in helper produces — then a
    windowed count per event_type."""
    from scio_spark.operators.windows import with_window_fn

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    assigned = with_window_fn(
        ev,
        # timestamp_seconds() returns session-tz TIMESTAMP; events.ts is
        # TIMESTAMP_NTZ (parquet without the UTC-adjust flag), so cast the
        # bounds to TIMESTAMP_NTZ to match F.window()'s type-preserving
        # behavior (and the DuckDB oracle's plain TIMESTAMP). Session tz is
        # pinned UTC, so the cast is value-preserving.
        "array(named_struct("
        "  'start', CAST(timestamp_seconds(CAST(FLOOR((unix_timestamp(ts) - 900) / 5400) AS BIGINT) * 5400 + 900) AS TIMESTAMP_NTZ),"
        "  'end',   CAST(timestamp_seconds(CAST(FLOOR((unix_timestamp(ts) - 900) / 5400) AS BIGINT) * 5400 + 6300) AS TIMESTAMP_NTZ)"
        "))",
    )
    return assigned.groupBy("window_start", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


ORACLE_CUSTOM_WINDOW = """
SELECT CAST(to_timestamp(CAST(FLOOR((epoch(ts) - 900) / 5400) AS BIGINT) * 5400 + 900)
            AS TIMESTAMP) AS window_start,
       event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION windows (the GameStats.scala:120 sessions exemplar):
    readStream → watermark(0s) → session_window(30 min gap) per user, APPEND
    mode (Spark requires append for streaming session aggs) driven to
    completion. Append emits exactly the sessions the watermark finalized —
    those whose end (last event + gap) ≤ max event time — so the oracle is
    the gaps-and-islands query restricted to finalized sessions: the
    Beam-default-trigger DISCARDING-final-pane semantics, oracle-pinned."""
    from scio_spark.streaming.core import ensure_event_time, run_to_memory

    sc = _ctx(spark)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
    stream = ensure_event_time(stream, "ts")
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("session"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            # LTZ→NTZ: the watermark path runs on LTZ; the source + oracle
            # are NTZ (value-preserving under the pinned UTC session tz)
            F.col("session.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, output_mode="append", num_state_partitions=8)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state dedup (streaming/core.py stream_dedup):
    readStream over events → watermark + dropDuplicatesWithinWatermark on
    (user_id, event_type), counted per event_type after run-to-completion.
    The full fixture replays inside one watermark horizon, so the result
    equals batch DISTINCT — the DuckDB oracle."""
    from scio_spark.streaming.core import run_to_memory, stream_dedup

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    deduped = stream_dedup(
        stream, ["user_id", "event_type"], ts_col="ts", within="10 days"
    )
    out = run_to_memory(
        deduped.select("user_id", "event_type"),
        output_mode="append",
        num_state_partitions=8,
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_users")
    )


ORACLE_STREAMING_DEDUP = """
SELECT event_type, COUNT(*) AS n_unique_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


ORACLE_STREAMING_SESSION = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL '30 minutes' AS session_end,
         COUNT(*) AS n_events
  FROM islands GROUP BY user_id, sid
)
SELECT user_id, session_start, n_events FROM sess
WHERE session_end <= (SELECT MAX(ts) FROM events)
"""


def q_pane_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withPaneInfo batch mode (SCollection.scala:1307): bounded pipelines
    fire one final pane per window — ON_TIME, index 0, first and last —
    attached to a fixed-window aggregate."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    agg = W.fixed_window_agg(
        ev, "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("n")]
    ).select("window_start", "event_type", "n")
    return W.with_pane_info(agg)


ORACLE_PANE_INFO = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       'ON_TIME' AS pane_timing, CAST(0 AS BIGINT) AS pane_index,
       TRUE AS pane_is_first, TRUE AS pane_is_last
FROM events GROUP BY 1, 2
"""


def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped sessionization (operators/windows.py capped_sessions — the
    production variant F.session_window lacks: gap sessions SPLIT at a max
    duration so an always-active key cannot form one infinite session):
    events per user at gap=30 min, cap=1 h, rolled up to sessions-per-
    user-bucket. Tie-safe by construction (equal timestamps always land in
    the same session regardless of sort order), so the two-pass window
    semantics replay exactly in DuckDB."""
    from scio_spark.operators.windows import capped_sessions

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df.select("user_id", "ts")
    s = capped_sessions(ev, "ts", 1800, 3600, "user_id")
    return (
        s.select((F.col("user_id") % 25).alias("ub"), "user_id", "session_id")
        .groupBy("ub")
        .agg(
            F.countDistinct("user_id", "session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_CAPPED_SESSIONS = """
WITH e AS (
  SELECT user_id, epoch(ts) AS sec FROM events
),
g AS (
  SELECT user_id, sec,
         CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)
),
gs AS (
  SELECT user_id, sec,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gsess
  FROM g
),
sess AS (
  SELECT user_id, sec, gsess,
         MIN(sec) OVER (PARTITION BY user_id, gsess) AS start
  FROM gs
),
labeled AS (
  SELECT user_id,
         'g' || gsess || '.' || CAST(FLOOR((sec - start) / 3600) AS BIGINT)
           AS session_id
  FROM sess
)
SELECT user_id % 25 AS ub,
       COUNT(DISTINCT (user_id, session_id)) AS n_sessions,
       COUNT(*) AS n_events
FROM labeled GROUP BY 1
"""


def q_discarding_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCARDING-mode windowed panes — ``discardingFiredPanes()`` with
    allowedLateness (scio streaming/package.scala:31-35; previously a
    documented §4.4.1 gap): streaming/core.py discarding_panes keys
    applyInPandasWithState by (event_type, hour window), each micro-batch
    emits only its delta, and event-time timeouts evict state once the
    watermark passes window end — Beam's exact bounded-state story.
    Values pre-scaled to integer cents so pane sums are engine-exact;
    single-batch input ⇒ one pane per (key, window) equal to the batch
    aggregation, so the DuckDB oracle applies. Multi-batch delta
    semantics are pinned in tests/test_streaming.py."""
    from scio_spark.streaming.core import (
        discarding_panes,
        ensure_event_time,
        run_to_memory,
    )

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
    stream = ensure_event_time(stream, "ts").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    panes = discarding_panes(
        stream, "ts", "1 hour", "1 hour", ["event_type"], "cents"
    )
    out = panes.select(
        "event_type",
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "pane_index",
        "pane_value",
    )
    # min(width, 16) state stores (r16 re-adjudication of the r15-opt
    # width setting, which the driver measured 0.75×): fresh-session
    # interleaved A/B at 32 cores — 16 stores cold {6.02, 6.41, 6.54} s
    # vs 32 stores {5.42, 9.30, 15.84} (comparable best case,
    # catastrophic tail: per-store maintenance keeps growing with store
    # count while the ~3.6k (type, window) groups' Python work saturates
    # by 16 tasks) vs 8 stores {8.05, 8.27, 10.39}. Still scale-adaptive
    # downward (an 8-core run gets 8 stores, matching its scheduling
    # width); 16 is a capacity cap, not a local-mode constant — it goes
    # UP on a real cluster with state volume (~1 GB/store).
    return run_to_memory(
        out,
        output_mode="update",
        num_state_partitions=min(spark.sparkContext.defaultParallelism, 16),
    )


ORACLE_DISCARDING_PANES = """
SELECT event_type,
       time_bucket(INTERVAL '1 hour', ts) AS window_start,
       CAST(0 AS BIGINT) AS pane_index,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS pane_value
FROM events GROUP BY 1, 2
"""


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition (SURVEY
    §2.5; the Structured Streaming form of joining two windowed
    collections): clicks joined to the purchases that follow within 30
    minutes per user, both sides watermarked (state bounded by the
    interval). Single-batch input ⇒ the append-mode result equals the
    batch join, so the DuckDB oracle applies."""
    from scio_spark.streaming.core import ensure_event_time, run_to_memory

    def src():
        s = (
            spark.readStream.schema(
                spark.read.parquet(f"{sf_dir}/events.parquet").schema
            )
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        if dict(s.dtypes).get("ts") == "bigint":
            s = s.withColumn("ts", F.expr("TIMESTAMP_MICROS(ts DIV 1000)"))
        return ensure_event_time(s, "ts")

    clicks = (
        src()
        .filter("event_type = 'click'")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src()
        .filter("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    )
    # 4 state stores (vs the session's 32) ~3x faster at this volume:
    # per-store maintenance dominates when state is small (A/B: 2.7 s at 4,
    # 3.0 at 8, 5.2 at 16 warm; re-A/B'd cold r16: 4 -> {3.99, 4.30, 4.60},
    # 2 -> {4.32, 4.33, 4.37}, 8 -> {4.80, 5.00, 5.69} — 4 and 2 tie, 8
    # loses, keep 4). Capacity knob — goes UP on a real cluster
    # (state_bytes / ~1 GB per store).
    pairs = run_to_memory(joined, output_mode="append", num_state_partitions=4)
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


ORACLE_STREAMING_JOIN = """
SELECT c.user_id, COUNT(*) AS n_pairs
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY c.user_id
"""


def q_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rollup table (streaming/core.maintain_rollup
    — the hypertable/continuous-aggregate pattern) driven across TWO
    micro-batches split mid-hour, so the boundary window is emitted in
    batch 1 and UPDATED in batch 2: the foreachBatch partition-swap upsert
    must merge, not overwrite. Final table == full batch aggregation, so
    the streaming_window oracle applies."""
    import time

    from scio_spark.operators.merge import _fs
    from scio_spark.streaming.core import ensure_event_time, maintain_rollup

    stage = _rt_path(sf_dir, "rollup_stage")
    table = _rt_path(sf_dir, "rollup_table")
    # Hadoop FileSystem calls throughout, so the staging works on any
    # storage the session can write (HDFS, object stores), not only local
    jvm, _, fs = _fs(spark, stage)
    HPath = jvm.org.apache.hadoop.fs.Path
    fs.delete(HPath(stage), True)
    fs.delete(HPath(table), True)
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    split = F.lit("2024-01-16 00:30:00").cast(dict(ev.dtypes)["ts"])
    # One staging pass instead of two filtered repartition(1) writes
    # (r16, VERDICT r15 item 6): a single scan + partitionBy("__b") write
    # lands one file per batch dir; the dirs are then renamed to the
    # batch_* names (no `=` — keeps the file stream clear of partition
    # inference) and the second batch's file mtime is bumped so
    # FileStreamSource's timestamp ordering processes batch 0 first —
    # the mid-hour boundary row MUST arrive before the update batch or
    # the watermark from batch 1 could drop batch 0's rows. A side of the
    # split with no rows gets no __b dir from the write; it becomes an
    # empty batch dir.
    (
        ev.withColumn(
            "__b", F.when(F.col("ts") < split, 0).otherwise(1)
        )
        .repartition(2, "__b")
        .write.partitionBy("__b")
        .parquet(stage)
    )
    for b in (0, 1):
        side, batch = HPath(stage, f"__b={b}"), HPath(stage, f"batch_{b:05d}")
        if fs.exists(side):
            fs.rename(side, batch)
        else:
            fs.mkdirs(batch)
    late_ms = int((time.time() + 60) * 1000)
    for st in fs.listStatus(HPath(stage, "batch_00001")):
        fs.setTimes(st.getPath(), late_ms, late_ms)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/batch_*")
    )
    stream = ensure_event_time(stream, "ts")
    q = maintain_rollup(
        stream, table, "ts", "1 hour", "1 hour",
        ["event_type"], [F.count(F.lit(1)).alias("n")],
        num_state_partitions=4,  # capacity knob (A/B: 3.4 s vs 3.7 at 8)
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(table)
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )


def q_top_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopWikipediaSessions parity (scio-examples/.../complete/
    TopWikipediaSessions.scala): 30-min-gap sessionization per user
    (operators/windows.py session_agg), then the top-3 longest sessions
    per calendar month of session start, ties broken by (user, start)."""
    from pyspark.sql import Window

    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    sess = W.session_agg(
        ev, "ts", "30 minutes", ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
    )
    month = F.date_trunc("month", F.col("session_start")).cast("timestamp_ntz")
    w = Window.partitionBy("month").orderBy(
        F.desc("n_events"), F.asc("user_id"), F.asc("session_start")
    )
    return (
        sess.withColumn("month", month)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("month", "rank", "user_id", "session_start", "n_events")
    )


ORACLE_TOP_SESSIONS = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM islands GROUP BY user_id, sid),
ranked AS (
  SELECT CAST(date_trunc('month', session_start) AS TIMESTAMP) AS month,
         CAST(ROW_NUMBER() OVER (PARTITION BY date_trunc('month', session_start)
                                 ORDER BY n_events DESC, user_id ASC,
                                          session_start ASC) AS INT) AS rank,
         user_id, session_start, n_events
  FROM sess)
SELECT month, rank, user_id, session_start, n_events
FROM ranked WHERE rank <= 3
"""


def q_traffic_max_lane_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrafficMaxLaneFlow parity (scio-examples/src/main/scala/com/spotify/
    scio/examples/complete/TrafficMaxLaneFlow.scala: sliding windows over
    sensor readings, then per (window, station) keep the single reading
    with the maximum lane flow). Analog over events: 1h/30m sliding
    windows x station (event_type); argmax by (value DESC, event_id DESC)
    via a struct max — a partial-aggregable single-shuffle plan (explode
    x2 -> map-side max/count -> one exchange), no ROW_NUMBER sort."""
    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df.filter(F.col("value").isNotNull())
    slid = W.with_sliding_windows(ev, "ts", "1 hour", "30 minutes")
    return (
        slid.groupBy("window_start", F.col("event_type").alias("station"))
        .agg(
            F.max(F.struct(F.col("value"), F.col("event_id"))).alias("__b"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            "window_start",
            "station",
            F.col("__b.value").alias("max_flow"),
            F.col("__b.event_id").alias("event_id"),
            "n_readings",
        )
    )


ORACLE_TRAFFIC_MAX_LANE_FLOW = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
         event_type AS station, event_id, value
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
         event_type, event_id, value
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT window_start, station, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY window_start, station
                            ORDER BY value DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY window_start, station) AS n_readings
  FROM assigned)
SELECT window_start, station, CAST(value AS DOUBLE) AS max_flow, event_id,
       CAST(n_readings AS BIGINT) AS n_readings
FROM ranked WHERE rn = 1
"""


def q_traffic_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrafficRoutes parity (scio-examples/src/main/scala/com/spotify/scio/
    examples/complete/TrafficRoutes.scala: per (sliding window, route)
    average speed plus a slowdown flag — true when some station in the
    route has consecutive readings with decreasing speed). Analog over
    events: route = event_type, station = user_id; the consecutive-pair
    LAG runs per (window, route, station) — the same grouping Beam's
    GroupByKey induces, one exchange — then one partial-aggregable
    group. avg_speed = decimal-staged sum cast double / count (both
    engines do the identical IEEE double division)."""
    from pyspark.sql import Window

    from scio_spark.operators import windows as W

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    slid = W.with_sliding_windows(ev, "ts", "1 hour", "30 minutes")
    pair = Window.partitionBy("window_start", "event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    slid = slid.withColumn("__slow", F.col("value") < F.lag("value").over(pair))
    return (
        slid.groupBy("window_start", F.col("event_type").alias("route"))
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_speed"),
            F.coalesce(F.bool_or("__slow"), F.lit(False)).alias("slowdown"),
        )
    )


ORACLE_TRAFFIC_ROUTES = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
         event_type, user_id, ts, event_id, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
         event_type, user_id, ts, event_id, value
  FROM events),
lagged AS (
  SELECT window_start, event_type AS route, value,
         value < LAG(value) OVER (PARTITION BY window_start, event_type,
                                  user_id ORDER BY ts, event_id) AS slow
  FROM assigned)
SELECT window_start, route,
       CAST(COUNT(*) AS BIGINT) AS n_readings,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_speed,
       COALESCE(BOOL_OR(slow), FALSE) AS slowdown
FROM lagged GROUP BY 1, 2
"""


def q_spam_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GameStats spam-detection parity (scio-examples/.../complete/game/
    GameStats.scala CalculateSpammyUsers): users whose total score exceeds
    mean + 2.5·stddev_pop of per-user totals. Per-user sums are
    decimal-staged (order-independent); the threshold compare is double
    with empirically verified margin ≥6.4 vs ~1e-10 float error (the
    recipes' float-decision rule). Mean/stddev join in as a 1-row
    broadcast scalar."""
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).alias("s")
    )
    stats = per_user.agg(
        F.avg(F.col("s").cast("double")).alias("m"),
        F.stddev_pop(F.col("s").cast("double")).alias("sd"),
    )
    flagged = per_user.join(F.broadcast(stats)).select(
        "user_id",
        "s",
        (F.col("s").cast("double") > F.col("m") + 2.5 * F.col("sd")).alias(
            "is_spammy"
        ),
    )
    return flagged.groupBy("is_spammy").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s").cast("double").alias("total_value"),
    )


ORACLE_SPAM_USERS = """
WITH per_user AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(28,6))) AS s
  FROM events GROUP BY 1),
st AS (
  SELECT AVG(CAST(s AS DOUBLE)) AS m, STDDEV_POP(CAST(s AS DOUBLE)) AS sd
  FROM per_user)
SELECT CAST(s AS DOUBLE) > m + 2.5 * sd AS is_spammy,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(s) AS DOUBLE) AS total_value
FROM per_user, st
GROUP BY 1
"""
