"""Windowing — scio/Beam windowing re-expressed on event-time columns.

Reference: SCollection.scala windowing entry points — withFixedWindows:1229,
withSlidingWindows:1240, withSessionWindows:1258, calendar windows
windowByYears/Months/Weeks/Days:1275-1300, timestampBy:1359, withTimestamp:1322.
Beam attaches timestamps/windows as element *metadata*; Spark-first design
carries them as explicit columns (SURVEY §1.3), which makes windows visible to
Catalyst (partition pruning on window_start, pushdown, AQE).

Batch and streaming share these helpers — the same ``F.window``/
``F.session_window`` expressions work on bounded DataFrames and on
``readStream`` inputs (Structured Streaming's own batch/stream unification,
mirroring scio's single SCollection API).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def timestamp_by(df: DataFrame, expr, ts_col: str = "event_time") -> DataFrame:
    """SCollection.scala:1359 ``timestampBy`` — assign/replace event time."""
    return df.withColumn(ts_col, expr if isinstance(expr, Column) else F.expr(expr))


def with_fixed_windows(df: DataFrame, ts_col: str, duration: str) -> DataFrame:
    """Tumbling windows (:1229): adds window_start / window_end columns."""
    w = F.window(F.col(ts_col), duration)
    return df.withColumn("window_start", w.start).withColumn("window_end", w.end)


def with_sliding_windows(df: DataFrame, ts_col: str, size: str, slide: str) -> DataFrame:
    """Sliding windows (:1240): one output row per (element, window) pair —
    same multiplicity as Beam's sliding-window assignment."""
    w = F.window(F.col(ts_col), size, slide)
    return (
        df.withColumn("__w", w)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def with_calendar_window(
    df: DataFrame, ts_col: str, unit: str = "month", number: int = 1
) -> DataFrame:
    """Calendar windows (windowByYears/Months/Weeks/Days,
    SCollection.scala:1275-1300 → Beam CalendarWindows). ``number=1`` is a
    plain date_trunc; ``number>1`` gives multi-unit calendar windows (e.g.
    unit='month', number=3 = quarters) aligned the way CalendarWindows
    aligns them — counting whole units since the epoch (1970-01-01;
    weeks start Monday, Beam's default startDayOfWeek) and flooring to
    multiples of ``number``. All pure date arithmetic: no shuffle, and
    the window_start column stays visible to partition pruning.

    Type-preserving like F.window(): DATE and TIMESTAMP_NTZ inputs yield a
    TIMESTAMP_NTZ window_start (date_trunc on DATE otherwise promotes to
    session-tz TIMESTAMP, which hashes differently from an NTZ oracle)."""
    if number < 1:
        raise ValueError("with_calendar_window: number must be >= 1")
    c = F.col(ts_col)
    if number == 1:
        start = F.date_trunc(unit, c)
    elif unit == "day":
        idx = F.floor(F.datediff(c, F.lit("1970-01-01")) / number)
        start = F.date_add(F.lit("1970-01-01").cast("date"), (idx * number).cast("int")).cast("timestamp")
    elif unit == "week":
        # 1970-01-05 is the first epoch Monday — Beam's week boundary
        idx = F.floor(F.datediff(c, F.lit("1970-01-05")) / (7 * number))
        start = F.date_add(
            F.lit("1970-01-05").cast("date"), (idx * 7 * number).cast("int")
        ).cast("timestamp")
    elif unit == "month":
        m = (F.year(c) - 1970) * 12 + F.month(c) - 1
        idx = F.floor(m / number)
        start = F.add_months(
            F.lit("1970-01-01").cast("date"), (idx * number).cast("int")
        ).cast("timestamp")
    elif unit == "year":
        idx = F.floor((F.year(c) - 1970) / number)
        start = F.make_date(
            (F.lit(1970) + idx * number).cast("int"), F.lit(1), F.lit(1)
        ).cast("timestamp")
    else:
        raise ValueError(
            f"with_calendar_window: unit {unit!r} with number>1 must be "
            "day/week/month/year"
        )
    src = dict(df.dtypes).get(ts_col, "")
    if src in ("date", "timestamp_ntz"):
        start = start.cast("timestamp_ntz")
    return df.withColumn("window_start", start)


def with_window_fn(df: DataFrame, windows_expr) -> DataFrame:
    """withWindowFn / WindowOptions custom WindowFn (SCollection.scala:1191)
    — the batch-mode subset: arbitrary per-element window ASSIGNMENT.

    ``windows_expr`` is any Column/SQL producing
    ``array<struct<start timestamp, end timestamp>>`` — an element may land
    in 0..N windows (0 = dropped, N > 1 = replicated), exactly Beam's
    ``WindowFn.assignWindows`` contract. Match the struct's timestamp
    flavor to the event-time column's (TIMESTAMP vs TIMESTAMP_NTZ): e.g.
    ``timestamp_seconds()`` returns session-tz TIMESTAMP, so wrap it in
    ``CAST(... AS TIMESTAMP_NTZ)`` over NTZ sources — LTZ/NTZ drift in the
    window bounds hashes differently downstream (the round-4 custom_window
    driver failure). Rows explode into one row per
    assigned window with window_start/window_end columns, visible to
    Catalyst like every other window here. The runtime half of
    WindowOptions (triggers, pane accumulation) is the documented streaming
    gap (§4.4.1); the watermark-expressible subset lives in streaming/core.
    """
    expr = windows_expr if isinstance(windows_expr, Column) else F.expr(windows_expr)
    return (
        df.withColumn("__w", F.explode(expr))
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def fixed_window_agg(df: DataFrame, ts_col: str, duration: str, key_cols, aggs) -> DataFrame:
    """groupBy(window, keys).agg — the canonical windowed aggregation; in
    streaming add .withWatermark(ts_col, delay) upstream."""
    w = F.window(F.col(ts_col), duration)
    out = df.groupBy(w.alias("window"), *key_cols).agg(*aggs)
    return (
        out.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_agg(df: DataFrame, ts_col: str, gap: str, key_cols, aggs) -> DataFrame:
    """Session aggregation: (keys, session_start, session_end, aggs...).
    Session end here is last-event + gap (Spark semantics; Beam's session
    windows are identical)."""
    out = df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("session"), *key_cols
    ).agg(*aggs)
    return (
        out.withColumn("session_start", F.col("session.start"))
        .withColumn("session_end", F.col("session.end"))
        .drop("session")
    )


def with_pane_info(df: DataFrame) -> DataFrame:
    """SCollection.scala:1307 ``withPaneInfo`` — batch mode. In a bounded
    pipeline Beam fires every window exactly once, so PaneInfo is the
    constant single final pane: ON_TIME timing, index 0, first and last.
    Those are the four fields scio exposes, attached as columns.

    Streaming pane metadata (EARLY/ON_TIME/LATE, incrementing pane_index)
    comes from ``streaming.core.late_firing_panes`` — per-element pane info
    inside an unbounded Spark query has no analog (SURVEY §4.4.1)."""
    return (
        df.withColumn("pane_timing", F.lit("ON_TIME"))
        .withColumn("pane_index", F.lit(0).cast("long"))
        .withColumn("pane_is_first", F.lit(True))
        .withColumn("pane_is_last", F.lit(True))
    )


def capped_sessions(
    df: DataFrame,
    ts_col: str,
    gap_seconds: int,
    max_duration_seconds: int,
    *key_cols: str,
    out_col: str = "session_id",
):
    """Gap-based sessionization with a MAXIMUM session duration — the
    production variant ``F.session_window`` lacks (a bot clicking every
    minute forever is ONE infinite Spark session; ops teams cap at e.g.
    4 h). Two window passes per key, both partition-local sorts bounded by
    per-key history:

    1. classic gap sessions: new-session flag where the gap to the
       previous event exceeds ``gap_seconds``; running sum → gap-session
       ordinal;
    2. duration cap: within each gap session, events split into
       ``floor((ts − session_start) / max_duration)`` sub-sessions.

    Returns the input plus ``out_col`` (string "g<gap_ordinal>.<split>",
    unique per (keys, session)). Semantics are fully SQL-replayable —
    the contract query's oracle replays both passes in DuckDB."""
    if gap_seconds <= 0 or max_duration_seconds <= 0:
        raise ValueError("capped_sessions: gap/max_duration must be positive")
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(ts_col) if keys else Window.orderBy(ts_col)
    sec = F.unix_micros(F.col(ts_col).cast("timestamp")) / 1_000_000.0
    prev = F.lag(sec).over(w)
    brk = F.when(prev.isNull() | (sec - prev > gap_seconds), 1).otherwise(0)
    with_gap = df.withColumn("__brk", brk).withColumn(
        "__gsess", F.sum("__brk").over(w)
    )
    w2 = (
        Window.partitionBy(*keys, "__gsess")
        if keys
        else Window.partitionBy("__gsess")
    )
    start = F.min(sec).over(w2.orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    ))
    split = F.floor((sec - start) / max_duration_seconds)
    return (
        with_gap.withColumn(
            out_col, F.concat(F.lit("g"), F.col("__gsess"), F.lit("."), split)
        )
        .drop("__brk", "__gsess")
    )
