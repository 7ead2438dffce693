"""Structured Streaming layer — scio/Beam streaming semantics on Spark.

Mapping (SURVEY §2.5): scio exposes Beam windowing/triggers; Structured
Streaming expresses the watermark-representable subset:

- event timestamps           → explicit ts column (timestampBy → withColumn)
- allowedLateness            → ``withWatermark(ts, delay)``
- fixed/sliding/session agg  → same window exprs as batch (operators/windows)
- ACCUMULATING panes         → output mode ``update``
- DISCARDING + final pane    → output mode ``append`` (emit on watermark pass)
- early/late firing triggers → micro-batch cadence (Trigger.ProcessingTime)
  for the AfterWatermark composite (late_firing_panes); element-count panes
  (element_count_panes) and the repeated processing-time trigger at true
  wall-clock cadence (processing_time_panes) are custom stateful operators.
  Residual §4.4.1 gap: ONLY the AfterWatermark composite's LATE firings
  stay quantized to micro-batch cadence — the standalone
  AfterProcessingTime trigger fires off-cadence via data-less batches.

Late-data caveat (differs subtly from Beam): Spark drops a late row
*best-effort* while its window's state is alive, and *guarantees* the drop
only after the watermark evicted that state (one trigger after the watermark
passes the window end). Beam with allowedLateness=0 drops at assignment time.
Tests pin the guaranteed behavior.
- stateful DoFn (@StateId)   → applyInPandasWithState (state.py)
- TestStream                 → StreamFixture below (scripted micro-batches;
  watermark advances with each batch's max event time)

Reference: scio streaming/package.scala:31-35 (accumulation aliases),
LeaderBoard.scala:111-170 (trigger exemplar), testing/package.scala:27-34
(testStreamOf).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ensure_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP, which ``withWatermark``
    requires. Parquet timestamps without a UTC-adjustment flag read as
    TIMESTAMP_NTZ under Spark's ``parquet.inferTimestampNTZ``; the cast is
    wall-clock preserving under the package-wide UTC session timezone
    (context.py)."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def windowed_stream_agg(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    key_cols: Sequence[str],
    aggs,
) -> DataFrame:
    """The canonical streaming windowed aggregation: watermark + tumbling
    window + keyed aggs. Append mode emits each window once, when the
    watermark passes its end (Beam: default trigger, DISCARDING)."""
    stream = ensure_event_time(stream, ts_col)
    w = F.window(F.col(ts_col), window_duration)
    out = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(w.alias("window"), *key_cols)
        .agg(*aggs)
    )
    return (
        out.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


class state_partitions:
    """Scoped override of ``spark.sql.shuffle.partitions`` for starting a
    STATEFUL streaming query. Streaming state-partition count is a capacity
    decision, not a parallelism default: it is pinned into the checkpoint at
    first start (it cannot change on restart) and every micro-batch pays a
    per-state-store maintenance floor, so it must track peak state volume —
    not the session's batch shuffle width. On the local bench, dropping a
    single-user stream-stream join from 32 to 8 stores cut wall time ~3×
    with identical results; on a 1000-executor cluster the same knob goes
    UP (state_bytes / ~1 GB per store). Restores the previous value on
    exit; batch queries inside the block are unaffected at plan time only
    if they start after exit — keep the block tight around ``start()``."""

    def __init__(self, spark, n: int | None):
        self.spark, self.n = spark, n
        self.prev: str | None = None

    def __enter__(self):
        if self.n is not None:
            self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        if self.prev is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def run_to_memory(
    result: DataFrame,
    output_mode: str = "update",
    query_name: str | None = None,
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion against current source data
    (processAllAvailable) into a memory sink; returns the sink as a batch
    DataFrame. Local-test helper — production sinks go via writeStream.
    ``num_state_partitions`` sizes the state-store count for stateful plans
    (see ``state_partitions``)."""
    name = query_name or f"sink_{uuid.uuid4().hex[:12]}"
    with state_partitions(result.sparkSession, num_state_partitions):
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return result.sparkSession.table(name)


def run_foreach_batch(
    result: DataFrame,
    batch_fn,
    output_mode: str = "update",
) -> list:
    """Exactly-once custom sink via foreachBatch: ``batch_fn(df, epoch_id)``
    per micro-batch (idempotent writes keyed by epoch_id give end-to-end
    exactly-once — the Spark analog of Beam's sink transactions). Drives the
    stream to completion; returns the epoch ids processed."""
    epochs: list[int] = []

    def wrapper(df: DataFrame, epoch_id: int):
        epochs.append(epoch_id)
        batch_fn(df, epoch_id)

    q = result.writeStream.outputMode(output_mode).foreachBatch(wrapper).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return epochs


def maintain_rollup(
    stream: DataFrame,
    path: str,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    key_cols,
    aggs,
    checkpoint: str | None = None,
    partition_by: str = "day",
    num_state_partitions: int | None = None,
):
    """Continuously-maintained windowed rollup table (the hypertable /
    continuous-aggregate pattern): a streaming windowed aggregation whose
    updates are upserted into a time-partitioned parquet table.

    Mechanism: update-mode aggregation → foreachBatch merges each epoch's
    changed window rows with the surviving rows of the affected partitions,
    writes the merged partitions to a sibling temp dir (a fully distributed
    write — no row passes through the driver), then swaps each partition
    directory into the table with Hadoop-FS renames. Only the partitions
    touched by the epoch are rewritten — the existing-rows read is
    statically pruned to the affected directories, so the table's history
    is never re-scanned. The epoch is evaluated once; state metrics count
    each row once. A retried epoch redoes the same swap (idempotent —
    exactly-once with a checkpoint). At 100 TB this is the standard way to
    keep a queryable aggregate fresh without re-scanning history; with a
    table format available (Delta/Iceberg) the swap becomes a MERGE.

    ``partition_by``: directory granularity of the table.
    - ``"day"`` (default): dirs are ``window_date=YYYY-MM-DD`` holding that
      day's window rows — the TimescaleDB-chunk shape. Years of hourly
      windows stay at hundreds of dirs, each epoch touches 1-2, and the
      per-partition swap/rename count is bounded by days, not windows.
    - ``"window"``: one dir per ``window_start`` — finest read pruning, but
      O(windows) directories and per-epoch renames; only sensible for
      coarse windows (daily+).

    Returns the started StreamingQuery (caller stops it / lets it run).
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if partition_by not in ("day", "window"):
        raise ValueError("maintain_rollup: partition_by must be 'day'|'window'")
    part_col = "window_date" if partition_by == "day" else "window_start"
    agg = windowed_stream_agg(
        stream, ts_col, window_duration, watermark_delay, key_cols, aggs
    )
    if partition_by == "day":
        agg = agg.withColumn("window_date", F.to_date("window_start"))

    def upsert(batch_df: DataFrame, epoch_id: int):
        # foreachBatch hands over the incremental plan itself: every action
        # on batch_df would re-run the stateful aggregation and commit its
        # state store again (double-counting its progress metrics). Caching
        # makes the first action the epoch's only evaluation.
        batch_df.persist()
        try:
            # the affected partition list is small by construction (bounded by
            # the windows an epoch can touch under the watermark); collecting it
            # doubles as the emptiness check — one job instead of two per epoch
            affected = [
                r[part_col] for r in batch_df.select(part_col).distinct().collect()
            ]
            if not affected:
                return
            spark = batch_df.sparkSession
            jvm = spark._jvm
            HPath = jvm.org.apache.hadoop.fs.Path
            target = HPath(path)
            fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
            # explicit existence check — a transient read failure must propagate
            # (and retry the micro-batch), never be mistaken for "first epoch"
            # and destroy partition contents with a partial overwrite
            table_exists = bool(fs.globStatus(HPath(path, part_col + "=*")))
            # merge semantics: keep existing rows of the affected partitions
            # whose (window, key) was NOT updated this epoch, union the updates
            # (update mode emits only changed keys — a bare partition overwrite
            # would drop the unchanged ones)
            merged = batch_df
            if table_exists:
                merge_on = ["window_start"] + key_cols
                # isin on the partition column statically prunes the scan to
                # the affected directories — the table's history is never
                # re-scanned. The table holds exactly the columns this upsert
                # writes, so the epoch's schema reads it without a footer-
                # inference job.
                existing = (
                    spark.read.schema(batch_df.schema)
                    .parquet(path)
                    .filter(F.col(part_col).isin(affected))
                )
                keep = existing.join(batch_df.select(*merge_on), merge_on, "left_anti")
                merged = batch_df.unionByName(keep.select(*batch_df.columns))
            tmp = path.rstrip("/") + f"__epoch_tmp_{epoch_id}"
            tmp_path = HPath(tmp)
            if fs.exists(tmp_path):  # leftover from a failed attempt of this epoch
                fs.delete(tmp_path, True)
            # co-locate each partition's rows in one task → one file per
            # partition directory (otherwise every shuffle task writes a sliver
            # file into every partition it holds — O(tasks × partitions) files)
            (
                merged.repartition(part_col)
                .write.mode("overwrite")
                .partitionBy(part_col)
                .parquet(tmp)
            )
            if not fs.exists(target):
                fs.mkdirs(target)
            for st in fs.listStatus(tmp_path):
                name = st.getPath().getName()
                if not name.startswith(part_col + "="):
                    continue
                dest = HPath(target, name)
                if fs.exists(dest):
                    fs.delete(dest, True)
                fs.rename(st.getPath(), dest)
            fs.delete(tmp_path, True)
        finally:
            batch_df.unpersist()

    writer = agg.writeStream.outputMode("update").foreachBatch(upsert)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    # state-store count is a capacity knob pinned at first start — size it
    # to peak open-window state, not the session shuffle width (see
    # state_partitions)
    with state_partitions(stream.sparkSession, num_state_partitions):
        return writer.start()


def early_firing_panes(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    key_cols: Sequence[str],
    aggs,
    trigger_interval: str | None = None,
) -> list[tuple[int, list]]:
    """LeaderBoard trigger subset (scio-examples complete/game/
    LeaderBoard.scala:111-170): Beam fixed windows with EARLY firings on a
    processing-time trigger and ACCUMULATING panes.

    Spark mapping: update output mode re-emits a window's accumulated
    aggregate every micro-batch in which it changed — each emission is an
    early pane; the last emission a window ever produces (once the
    watermark passes its end and state is evicted) is its final pane. The
    micro-batch cadence is the processing-time trigger
    (``trigger_interval`` → Trigger.ProcessingTime; None = as-fast-as-
    possible, which under a scripted StreamFixture means one pane per
    scripted batch).

    Drives the stream to completion and returns ``[(epoch_id, rows)]`` —
    one entry per micro-batch — so tests can pin early/final emission
    counts. Per-pane firing control beyond this (discarding early panes,
    pane-index metadata) has no Spark analog — SURVEY §4.4.1.

    TEST HARNESS ONLY: every micro-batch is collect()ed to the driver —
    unbounded accumulation on a real stream. Production pane capture goes
    through ``pane_sink`` / ``run_pane_sink`` (foreachBatch append to a
    table; labels reconstructed by ``label_panes`` as a batch job)."""
    agg = windowed_stream_agg(
        stream, ts_col, window_duration, watermark_delay, list(key_cols), aggs
    )
    panes: list[tuple[int, list]] = []

    def capture(df: DataFrame, epoch_id: int):
        panes.append((epoch_id, df.collect()))

    writer = agg.writeStream.outputMode("update").foreachBatch(capture)
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return panes


def pane_sink(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    key_cols: Sequence[str],
    aggs,
    path: str,
    checkpoint: str | None = None,
    trigger_interval: str | None = None,
):
    """PRODUCTION pane capture — the scalable counterpart of
    ``early_firing_panes`` / ``late_firing_panes``, which ``collect()`` every
    micro-batch to the driver and are TEST HARNESSES ONLY (unbounded
    driver-side accumulation on a real stream).

    Every update-mode emission is appended to the parquet table at ``path``
    with its ``epoch`` attached — an executor-side write; no pane row ever
    reaches the driver. One tiny metadata row per micro-batch (the on-time
    event-clock max from StreamingQueryProgress) must land in
    ``<path>__epochs`` for ``label_panes`` to reconstruct Beam pane
    timing/pane_index as a batch job afterwards: for bounded runs use
    ``run_pane_sink`` (drains, then writes the trace from recentProgress);
    for an always-on stream call ``write_epoch_trace(q, path)`` on a timer
    (recentProgress keeps ~100 batches — flush more often than that).

    Returns the started StreamingQuery; pass ``checkpoint`` for restartable
    exactly-once appends."""
    agg = windowed_stream_agg(
        stream, ts_col, window_duration, watermark_delay, list(key_cols), aggs
    )

    def emit(df: DataFrame, epoch_id: int):
        df.withColumn("epoch", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(path)

    writer = agg.writeStream.outputMode("update").foreachBatch(emit)
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def write_epoch_trace(query, path: str) -> int:
    """Append (epoch, event_max) rows from the query's recentProgress to
    ``<path>__epochs`` — one tiny row per micro-batch (the driver holds batch
    METADATA only, never pane rows). Idempotent under overlap: label_panes
    dedups by epoch. Returns the number of rows written."""
    import datetime as dt
    import json as _json

    rows = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(
            p if isinstance(p, str) else p.json
        )
        et = d.get("eventTime") or {}
        if "max" in et:
            rows.append(
                (
                    int(d["batchId"]),
                    dt.datetime.fromisoformat(
                        et["max"].replace("Z", "+00:00")
                    ).replace(tzinfo=None),
                )
            )
    if rows:
        spark = SparkSession.getActiveSession()
        spark.createDataFrame(
            rows, "epoch long, event_max timestamp"
        ).repartition(1).write.mode("append").parquet(path + "__epochs")
    return len(rows)


def label_panes(spark: SparkSession, path: str, key_cols: Sequence[str]) -> DataFrame:
    """Batch reconstruction of Beam pane metadata over a ``pane_sink`` table:
    ``pane_index`` (firing count per window+key, ``PaneInfo.getIndex``) and
    ``timing`` (EARLY / ON_TIME / LATE against the running on-time watermark
    from the epoch trace) — the same labels the list-returning test
    harnesses compute, derived distributively from the sink instead of
    driver-accumulated rows.

    The epoch-trace running max uses an unpartitioned window — fine, the
    trace is one row per micro-batch, not per pane."""
    from pyspark.sql import Window

    panes = spark.read.parquet(path)
    ep = (
        spark.read.parquet(path + "__epochs")
        .groupBy("epoch")
        .agg(F.max("event_max").alias("event_max"))
    )
    w_run = Window.orderBy("epoch").rowsBetween(Window.unboundedPreceding, 0)
    ep = ep.withColumn("running_max", F.max("event_max").over(w_run))
    joined = panes.join(ep.select("epoch", "running_max"), "epoch", "left")
    keyw = (
        Window.partitionBy("window_start", *key_cols)
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_early = F.col("running_max").isNull() | (
        F.col("running_max") < F.col("window_end").cast("timestamp")
    )
    n_on = F.sum(F.when(~is_early, F.lit(1)).otherwise(F.lit(0))).over(keyw)
    return (
        joined.withColumn("pane_index", F.count(F.lit(1)).over(keyw) - F.lit(1))
        .withColumn(
            "timing",
            F.when(is_early, F.lit("EARLY"))
            .when(n_on == 1, F.lit("ON_TIME"))
            .otherwise(F.lit("LATE")),
        )
        .drop("running_max")
    )


def run_pane_sink(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    allowed_lateness: str,
    key_cols: Sequence[str],
    aggs,
    path: str,
    checkpoint: str | None = None,
) -> DataFrame:
    """Bounded-run convenience over ``pane_sink``: drain the stream to
    completion, flush the epoch trace, return ``label_panes``' labeled
    DataFrame. Same semantics as ``late_firing_panes`` with no driver-side
    pane accumulation."""
    q = pane_sink(
        stream, ts_col, window_duration, allowed_lateness, key_cols, aggs,
        path, checkpoint=checkpoint,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    write_epoch_trace(q, path)
    return label_panes(stream.sparkSession, path, key_cols)


def stream_dedup(
    stream: DataFrame,
    key_cols: Sequence[str],
    ts_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication — the training-data ingest staple
    (Beam: Distinct / deduplicate transform over an unbounded source).

    Two regimes:
    - ``within=None``: global dedup (``dropDuplicates``) — state holds every
      key seen, forever. Correct, but unbounded state; only for keyspaces
      known to be bounded.
    - ``within='24 hours'`` (with ``ts_col``): bounded-state dedup via
      ``dropDuplicatesWithinWatermark`` — duplicates arriving within the
      watermark horizon collapse, state older than the horizon is evicted.
      This is the 100 TB path: state size is bounded by the key arrival
      rate × horizon, not by history. (Beam's deduplicate has the same
      time-bounded contract.)
    """
    if within is not None:
        if ts_col is None:
            raise ValueError("stream_dedup: within= requires ts_col")
        return ensure_event_time(stream, ts_col).withWatermark(
            ts_col, within
        ).dropDuplicatesWithinWatermark(list(key_cols))
    return stream.dropDuplicates(list(key_cols))


def element_count_panes(
    stream: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    n: int,
    order_cols: Sequence[str],
    accumulating: bool = True,
) -> DataFrame:
    """``Repeatedly.forever(AfterPane.elementCountAtLeast(n))`` — the
    element-count trigger SURVEY §4.4.1 previously listed as fully
    inexpressible. Structured Streaming has no per-pane trigger control in
    its windowed-aggregation operators, but the trigger IS expressible as
    a custom stateful operator: ``applyInPandasWithState`` keeps a per-key
    (seen, total, fired, total_at_last_fire) state row across
    micro-batches and fires a pane at every n-th element.

    Semantics (deterministic, hence oracle-checkable): within each
    micro-batch a key's elements are processed in ``order_cols`` order;
    across batches, in arrival order — Beam's trigger also counts
    arrivals. Each firing emits (key..., pane_index, seen, total) where

    - ACCUMULATING (Beam accumulatingFiredPanes): ``total`` is the
      running aggregate over ALL elements so far;
    - DISCARDING (discardingFiredPanes — also previously a documented
      gap): ``total`` covers only the n elements since the last firing.

    ``value_col`` must be integer-valued (pre-scale currency to cents):
    integer sums are engine-exact, so a single-batch run replays in SQL
    as ``ROW_NUMBER ... WHERE rn % n = 0`` with a cumulative-sum window.

    State is one 4-long row per key — bounded by key cardinality, the
    same budget as any keyed aggregation; elements are never buffered
    (the numpy pass reduces each batch to pane rows immediately). Output
    mode must be ``update``. Reference: scio WindowedSCollection
    trigger surface (WindowedSCollection.scala:31-38), LeaderBoard.scala
    early-firing exemplar."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if n < 1:
        raise ValueError("element_count_panes: n must be >= 1")
    key_cols, order_cols = list(key_cols), list(order_cols)
    dt = dict(stream.dtypes)
    key_schema = ", ".join(f"{c} {dt[c]}" for c in key_cols)
    out_schema = f"{key_schema}, pane_index long, seen long, total long"

    def update(key, pdf_iter, state: GroupState):
        seen, total, fired, last_total = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            state.update((seen, total, fired, last_total))
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype=np.int64)
        cum = np.cumsum(vals) + total
        idx = np.arange(1, len(vals) + 1, dtype=np.int64) + seen
        fire_pos = np.nonzero(idx % n == 0)[0]
        if len(fire_pos):
            pane_totals = cum[fire_pos]
            out_total = (
                pane_totals
                if accumulating
                else np.diff(np.concatenate([[last_total], pane_totals]))
            )
            out = pd.DataFrame(
                {
                    "pane_index": fired + np.arange(len(fire_pos)),
                    "seen": idx[fire_pos],
                    "total": out_total,
                }
            )
            for c in key_cols:
                out[c] = pd.Series([key[key_cols.index(c)]] * len(out))
            yield out[key_cols + ["pane_index", "seen", "total"]]
            fired += len(fire_pos)
            last_total = int(pane_totals[-1])
        state.update((int(idx[-1]), int(cum[-1]), int(fired), int(last_total)))

    return stream.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="seen long, total long, fired long, last_total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def discarding_panes(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    allowed_lateness: str,
    key_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """DISCARDING-mode windowed panes — ``discardingFiredPanes()`` with
    ``allowedLateness`` (Beam WindowingStrategy; scio streaming/
    package.scala:31-35 accumulation aliases). Structured Streaming's
    built-in windowed aggregation can only ACCUMULATE (update mode) or
    emit once (append mode); the discarding shape — each firing carries
    ONLY the delta since the last firing, including late-arrival deltas —
    was a documented §4.4.1 gap. Like element_count_panes, it IS
    expressible as a custom stateful operator: applyInPandasWithState
    keyed by (keys..., window_start) emits each micro-batch's
    contribution as its own pane and keeps just (pane_index, total) in
    state, with EVENT-TIME TIMEOUT eviction once the watermark passes
    window end + allowed lateness (state stays bounded by windows in
    flight — Beam's exact state story).

    ``value_col`` must be integer-valued (pre-scale currency to cents):
    integer pane sums are engine-exact, so a single-batch run replays in
    SQL as the plain windowed aggregation. Rows later than the watermark
    horizon are dropped by Spark before reaching the operator — the
    allowedLateness drop. Returns (keys..., window_start, pane_index,
    pane_value, total_so_far); output mode must be ``update``."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_cols = list(key_cols)
    wm = stream.withWatermark(ts_col, allowed_lateness)
    with_win = wm.withColumn(
        "window_start", F.window(F.col(ts_col), window_duration)["start"]
    ).withColumn(
        "__window_end_ms",
        (
            F.unix_timestamp(
                F.window(F.col(ts_col), window_duration)["end"]
            )
            * 1000
        ).cast("long"),
    )
    dt = dict(with_win.dtypes)
    key_schema = ", ".join(
        f"{c} {dt[c]}" for c in key_cols + ["window_start"]
    )
    out_schema = (
        f"{key_schema}, pane_index long, pane_value long, total_so_far long"
    )

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # watermark passed window end + lateness: evict
            return
        pane_index, total = state.get if state.exists else (0, 0)
        delta = 0
        end_ms = None
        for pdf in pdf_iter:
            if len(pdf):
                delta += int(pdf[value_col].sum())
                end_ms = int(pdf["__window_end_ms"].iloc[0])
        total += delta
        state.update((pane_index + 1, total))
        if end_ms is not None:
            # evict once the (lateness-delayed) watermark passes window end
            state.setTimeoutTimestamp(end_ms)
        yield pd.DataFrame(
            {
                **{c: [key[i]] for i, c in enumerate(key_cols)},
                "window_start": [key[len(key_cols)]],
                "pane_index": [pane_index],
                "pane_value": [delta],
                "total_so_far": [total],
            }
        )

    return with_win.groupBy(*key_cols, "window_start").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="pane_index long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def late_firing_panes(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    allowed_lateness: str,
    key_cols: Sequence[str],
    aggs,
) -> list[dict]:
    """``AfterWatermark.pastEndOfWindow().withEarlyFirings(...)
    .withLateFirings(...)`` (LeaderBoard.scala:111-170) — the bounded Spark
    approximation VERDICT r2 #8 asked to pin.

    Mechanism: ONE update-mode query whose watermark delay is the
    ``allowed_lateness``. Spark keeps a window's state until the delayed
    watermark passes its end, so late-but-admissible rows re-fire the
    window; rows later than that are dropped (exactly Beam's
    allowedLateness drop). Each firing is then labeled with Beam's pane
    timing against the ON-TIME watermark (max event time, i.e. lateness 0),
    recovered from StreamingQueryProgress ``eventTime.max``:

    - EARLY   — fired before the on-time watermark passed the window end
    - ON_TIME — first firing at/after it passed
    - LATE    — any further firing (a late-admitted row changed the pane)

    ``pane_index`` counts firings per (window, key) — Beam's
    ``PaneInfo.getIndex``. Panes ACCUMULATE (update mode re-emits the full
    aggregate).

    Documented bounds vs Beam (SURVEY §4.4.1): firings happen on micro-batch
    cadence, not element-count/processing-time triggers; an ON_TIME pane
    only materializes if new data for the window arrived in the batch where
    the watermark crossed its end (Spark never re-emits an unchanged
    aggregate — with no such batch the last EARLY pane already carries the
    on-time value); DISCARDING late panes are not expressible.

    Drives the stream to completion; returns
    ``[{"epoch", "timing", "pane_index", "row"}]`` in firing order.

    TEST HARNESS ONLY: every micro-batch is collect()ed to the driver —
    unbounded accumulation on a real stream. Production pane capture goes
    through ``pane_sink`` / ``run_pane_sink`` (foreachBatch append to a
    table; identical timing/pane_index labels reconstructed by
    ``label_panes`` as a batch job over the sink)."""
    import datetime as dt
    import json as _json

    agg = windowed_stream_agg(
        stream, ts_col, window_duration, allowed_lateness, list(key_cols), aggs
    )
    captured: list[tuple[int, list]] = []

    def capture(df: DataFrame, epoch_id: int):
        captured.append((epoch_id, df.collect()))

    q = agg.writeStream.outputMode("update").foreachBatch(capture).start()
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()

    def _as_dict(p):
        if isinstance(p, dict):
            return p
        if isinstance(p, str):
            return _json.loads(p)
        return _json.loads(p.json)

    max_by_epoch: dict[int, dt.datetime] = {}
    for p in progress:
        d = _as_dict(p)
        et = d.get("eventTime") or {}
        if "max" in et:
            max_by_epoch[d["batchId"]] = dt.datetime.fromisoformat(
                et["max"].replace("Z", "+00:00")
            ).replace(tzinfo=None)

    panes: list[dict] = []
    pane_counter: dict[tuple, int] = {}
    fired_on_time: set[tuple] = set()
    running_max: dt.datetime | None = None
    for epoch_id, rows_ in sorted(captured, key=lambda t: t[0]):
        if epoch_id in max_by_epoch:
            m = max_by_epoch[epoch_id]
            running_max = m if running_max is None else max(running_max, m)
        for r in rows_:
            key = (r["window_start"],) + tuple(r[k] for k in key_cols)
            idx = pane_counter.get(key, 0)
            pane_counter[key] = idx + 1
            if running_max is None or running_max < r["window_end"]:
                timing = "EARLY"
            elif key in fired_on_time:
                timing = "LATE"
            else:
                timing = "ON_TIME"
                fired_on_time.add(key)
            panes.append(
                {"epoch": epoch_id, "timing": timing, "pane_index": idx, "row": r}
            )
    return panes


class _ProcessingTimePaneMachine:
    """The pure per-key state machine behind ``processing_time_panes``,
    factored out of the Spark closure for unit/property testing
    (tests/test_watermark_panes.py drives randomized interleavings).

    State tuple: (total, delta, pane_index, phase, deadline) — the
    operator's stateStructType; phases IDLE → PANE → (EVICT | IDLE).

    - ``on_data(state, arrived, now_ms)`` → (state', timeout_ms)
    - ``on_timeout(state, now_ms)`` → (state' | None, pane | None,
      timeout_ms | None) — ``state' is None`` means evict; ``pane`` is
      (pane_index, pane_value, total_so_far).
    """

    IDLE, PANE, EVICT = 0, 1, 2
    ZERO = (0, 0, 0, 0, 0)

    def __init__(self, delay_ms, accumulating, evict_after_ms):
        self.delay_ms = delay_ms
        self.accumulating = accumulating
        self.evict_after_ms = evict_after_ms

    def on_data(self, st, arrived, now_ms):
        total, delta, pane_index, phase, deadline = st
        total += arrived
        delta += arrived
        # Spark clears a key's timeout on EVERY invocation: an armed pane
        # must re-register the REMAINDER of its original deadline (never
        # the full delay — that would be a debounce, not
        # pastFirstElementInPane). The clock is Spark's processing-time
        # clock, the same one timeouts are evaluated against.
        if phase != self.PANE:  # first element of this pane: arm it
            deadline = now_ms + self.delay_ms
        return (
            (total, delta, pane_index, self.PANE, deadline),
            max(1, deadline - now_ms),
        )

    def on_timeout(self, st, now_ms):
        total, delta, pane_index, phase, _ = st
        if phase == self.PANE:
            pane = (pane_index, total if self.accumulating else delta, total)
            if self.evict_after_ms is not None:
                new = (total, 0, pane_index + 1, self.EVICT, 0)
                return new, pane, self.evict_after_ms
            return (total, 0, pane_index + 1, self.IDLE, 0), pane, None
        # EVICT with no arrivals since the firing: drop the key
        return None, None, None


def processing_time_panes(
    stream: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    delay_ms: int,
    accumulating: bool = True,
    evict_after_ms: int | None = None,
) -> DataFrame:
    """``Repeatedly.forever(AfterProcessingTime.pastFirstElementInPane()
    .plusDelayOf(d))`` — the scio LeaderBoard user-score trigger
    (scio-examples/.../complete/game/LeaderBoard.scala:110-121; trigger
    surface WindowedSCollection.scala:31-38): pane firings at WALL-CLOCK
    cadence, decoupled from micro-batch arrival.

    Mechanism: ``applyInPandasWithState`` with a PROCESSING-TIME timeout.
    The first element of a pane arms a wall-clock deadline ``delay_ms``
    out; elements arriving before it expires accumulate SILENTLY — later
    arrivals re-register the timeout with the REMAINING time (Spark
    clears a key's timeout on every invocation), never extending the
    deadline, which is exactly ``pastFirstElementInPane`` (a
    reset-per-element spelling would be a debounce — different trigger).
    The pane EMITS when the deadline expires; Spark delivers that in a
    DATA-LESS micro-batch if nothing new arrived (pinned by test), so
    firings genuinely happen off the data cadence — run the query with a
    ``Trigger.ProcessingTime`` interval a few× smaller than ``delay_ms``
    (the interval quantizes firing latency). The next element after a
    firing arms a fresh pane: ``Repeatedly.forever``.

    - ACCUMULATING (Beam accumulatingFiredPanes, the LeaderBoard mode):
      ``pane_value`` is the running aggregate over ALL elements so far;
    - DISCARDING: ``pane_value`` covers only the elements since the last
      firing. ``total_so_far`` always carries the running aggregate.

    ``value_col`` must be integer-valued (pre-scale currency to cents) so
    pane sums are engine-exact. State is one 4-long row per key, bounded
    by key cardinality — Beam's GlobalWindows state story; pass
    ``evict_after_ms`` to additionally drop a key's state after that much
    wall-clock idleness following a firing (the next element then starts
    from zero). Fixed-window panes at processing-time cadence: include a
    precomputed window-start column in ``key_cols`` (eviction is then
    wall-clock-based; for watermark-based windows with the full
    AfterWatermark composite use ``watermark_panes``). Output mode must be
    ``update``. Emits (key..., pane_index, pane_value, total_so_far)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if delay_ms < 1:
        raise ValueError("processing_time_panes: delay_ms must be >= 1")
    key_cols = list(key_cols)
    dt = dict(stream.dtypes)
    key_schema = ", ".join(f"{c} {dt[c]}" for c in key_cols)
    out_schema = (
        f"{key_schema}, pane_index long, pane_value long, total_so_far long"
    )
    machine = _ProcessingTimePaneMachine(delay_ms, accumulating, evict_after_ms)

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            new, pane, timeout = machine.on_timeout(
                state.get, state.getCurrentProcessingTimeMs()
            )
            if new is None:
                state.remove()
            else:
                state.update(new)
                if timeout is not None:
                    state.setTimeoutDuration(timeout)
            if pane is not None:
                pane_index, pane_value, total = pane
                yield pd.DataFrame(
                    {
                        **{c: [key[i]] for i, c in enumerate(key_cols)},
                        "pane_index": [pane_index],
                        "pane_value": [pane_value],
                        "total_so_far": [total],
                    }
                )
            return
        st = state.get if state.exists else _ProcessingTimePaneMachine.ZERO
        arrived = 0
        for pdf in pdf_iter:
            if len(pdf):
                arrived += int(pdf[value_col].sum())
        new, timeout = machine.on_data(
            st, arrived, state.getCurrentProcessingTimeMs()
        )
        state.update(new)
        state.setTimeoutDuration(timeout)
        return

    return stream.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=(
            "total long, delta long, pane_index long, phase int, "
            "deadline long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_INTERVAL_UNIT_MS = {
    "millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000,
    "day": 86_400_000, "week": 604_800_000,
}


def _interval_ms(interval: str) -> int:
    """Parse a Spark duration string ('30 minutes', '1 hour') to millis —
    the fixed-length units watermark delays are written in (calendar
    units like month/year are not valid watermark delays).

    FULL-match strict: a findall-style scan would silently skip what it
    can't parse — '0.5 seconds' (which Spark's withWatermark reads as
    500 ms) would come back as 5000 ms and desynchronize the operator's
    lateness arithmetic from the watermark Spark actually applies.
    Fractional values and unknown units therefore raise instead."""
    import re

    part = r"(\d+)\s*(millisecond|second|minute|hour|day|week)s?"
    m = re.fullmatch(
        rf"\s*{part}(?:\s+{part})*\s*", interval.lower()
    )
    if not m:
        raise ValueError(
            f"unparseable interval: {interval!r} (expected integer "
            "millisecond/second/minute/hour/day/week terms)"
        )
    return sum(
        int(num) * _INTERVAL_UNIT_MS[unit]
        for num, unit in re.findall(part, interval.lower())
    )


class _WatermarkPaneMachine:
    """The pure per-(key, window) state machine behind ``watermark_panes``,
    factored out of the Spark closure so its interleavings are unit- and
    property-testable without a streaming query (tests/
    test_watermark_panes.py drives it through randomized event sequences).

    State tuple: (total, delta, pane_index, fired, end_ms, armed,
    deadline) — exactly the operator's stateStructType. Transitions:

    - ``on_data(state, arrived, end_ms, now_ms)`` → (state', timeout_ms)
    - ``on_timeout(state, wm_ms, now_ms)`` → (state' | None, pane | None,
      timeout_ms | None) — ``state' is None`` means evict; ``pane`` is
      (timing, pane_index, pane_value, total_so_far).
    """

    ZERO = (0, 0, 0, 0, 0, 0, 0)

    def __init__(self, lateness_ms, late_delay_ms, early_delay_ms,
                 accumulating, poll_ms):
        self.lateness_ms = lateness_ms
        self.late_delay_ms = late_delay_ms
        self.early_delay_ms = early_delay_ms
        self.accumulating = accumulating
        self.poll_ms = poll_ms

    def _pane(self, timing, pane_index, total, delta):
        return (timing, pane_index, total if self.accumulating else delta,
                total)

    def _sweep(self, armed, deadline, now_ms):
        # remainder first if a pane is armed, else the plain poll cadence
        return max(1, min(self.poll_ms, deadline - now_ms)) if armed else self.poll_ms

    def on_data(self, st, arrived, end_ms_in, now_ms):
        total, delta, pane_index, fired, end_ms, armed, deadline = st
        if end_ms_in is not None:
            end_ms = end_ms_in
        total += arrived
        delta += arrived
        if (fired or self.early_delay_ms is not None) and not armed:
            # first element of a late (or early) pane arms its wall-clock
            # deadline; later elements re-register the REMAINDER (Spark
            # clears the timeout each invocation) — pastFirstElementInPane
            armed, deadline = 1, now_ms + (
                self.late_delay_ms if fired else self.early_delay_ms
            )
        return (
            (total, delta, pane_index, fired, end_ms, armed, deadline),
            self._sweep(armed, deadline, now_ms),
        )

    def on_timeout(self, st, wm_ms, now_ms):
        total, delta, pane_index, fired, end_ms, armed, deadline = st
        if not fired and wm_ms + self.lateness_ms >= end_ms:
            # on-time watermark passed the window end: the ON_TIME pane
            # (Beam fires it even if no element arrived since the last
            # early pane — update mode re-emits the accumulated value)
            return (
                (total, 0, pane_index + 1, 1, end_ms, 0, 0),
                self._pane("ON_TIME", pane_index, total, delta),
                self.poll_ms,
            )
        if fired and wm_ms >= end_ms:
            # delayed watermark passed the end: evict — flushing an
            # armed-but-unfired late pane first (Beam's final pane)
            pane = self._pane("LATE", pane_index, total, delta) if armed else None
            return None, pane, None
        if armed and now_ms >= deadline:
            return (
                (total, 0, pane_index + 1, fired, end_ms, 0, 0),
                self._pane("LATE" if fired else "EARLY", pane_index, total, delta),
                self.poll_ms,
            )
        # nothing due: keep sweeping
        return st, None, self._sweep(armed, deadline, now_ms)


def watermark_panes(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    allowed_lateness: str,
    key_cols: Sequence[str],
    value_col: str,
    late_delay_ms: int,
    early_delay_ms: int | None = None,
    accumulating: bool = True,
    poll_ms: int = 300,
) -> DataFrame:
    """``AfterWatermark.pastEndOfWindow().withEarlyFirings(
    AfterProcessingTime...).withLateFirings(AfterProcessingTime
    .pastFirstElementInPane().plusDelayOf(d))`` — the full LeaderBoard
    team-score trigger (scio-examples/.../complete/game/
    LeaderBoard.scala:111-170; WindowedSCollection.scala:31-38) with LATE
    (and optional EARLY) firings at TRUE wall-clock cadence. This closes
    the last §4.4.1 residual: ``late_firing_panes`` could only fire on
    micro-batch arrival, and an ON_TIME pane needed a data-carrying batch.

    Mechanism: one stateful operator keyed by (keys..., window_start)
    under a PROCESSING-TIME timeout, reading the EVENT-TIME watermark via
    ``GroupState.getCurrentWatermarkMs()`` each sweep — the two clocks
    Beam's composite trigger needs, available together because the
    timeout kind only fixes when the operator is re-invoked, not which
    clocks it may read. Every armed key is swept each ``poll_ms``:

    - EARLY  — with ``early_delay_ms``, the first element of a pane arms
      a wall-clock deadline (remainder re-arm, never extended — Beam's
      pastFirstElementInPane); firing emits and starts the next pane.
    - ON_TIME — the input is watermarked by ``allowed_lateness``, so the
      ON-TIME watermark (lateness 0) is ``getCurrentWatermarkMs() +
      lateness``; the first sweep where it passes the window end emits
      the on-time pane — in a DATA-LESS micro-batch if no data arrived,
      the case ``late_firing_panes`` documents as unexpressible.
    - LATE   — after the on-time firing, the first late-but-admissible
      element arms a fresh wall-clock deadline; firing emits ``delay_ms``
      later, decoupled from batch cadence.
    - EVICTION — when the DELAYED watermark passes the window end (i.e.
      the on-time watermark passes end + lateness) the key's state is
      dropped; an armed-but-unfired pane first emits as the final LATE
      pane (Beam's isLast). Later rows never reach the operator: Spark
      drops them against the same delayed watermark — the guaranteed
      allowedLateness drop, identical to ``discarding_panes``.

    ACCUMULATING panes carry the running total, DISCARDING the delta
    since the last firing; ``total_so_far`` always carries the total.
    ``value_col`` must be integer-valued (pre-scale currency to cents).
    State is one fixed-width row per in-flight (key, window) — Beam's
    exact state story; sweep cost is one re-invocation per armed key per
    ``poll_ms`` (set poll to seconds on a real cluster; it only bounds
    firing latency). Output mode must be ``update``. Emits
    (keys..., window_start, timing, pane_index, pane_value,
    total_so_far)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if late_delay_ms < 1:
        raise ValueError("watermark_panes: late_delay_ms must be >= 1")
    key_cols = list(key_cols)
    lateness_ms = _interval_ms(allowed_lateness)
    wm = stream.withWatermark(ts_col, allowed_lateness)
    with_win = wm.withColumn(
        "window_start", F.window(F.col(ts_col), window_duration)["start"]
    ).withColumn(
        "__window_end_ms",
        (
            F.unix_timestamp(F.window(F.col(ts_col), window_duration)["end"])
            * 1000
        ).cast("long"),
    )
    dt = dict(with_win.dtypes)
    key_schema = ", ".join(f"{c} {dt[c]}" for c in key_cols + ["window_start"])
    out_schema = (
        f"{key_schema}, timing string, pane_index long, pane_value long, "
        "total_so_far long"
    )

    def emit(key, timing, pane_index, pane_value, total):
        return pd.DataFrame(
            {
                **{c: [key[i]] for i, c in enumerate(key_cols)},
                "window_start": [key[len(key_cols)]],
                "timing": [timing],
                "pane_index": [pane_index],
                "pane_value": [pane_value],
                "total_so_far": [total],
            }
        )

    machine = _WatermarkPaneMachine(
        lateness_ms, late_delay_ms, early_delay_ms, accumulating, poll_ms
    )

    def update(key, pdf_iter, state: GroupState):
        # delayed wm = on-time wm − lateness (0 until the first batch sets
        # one; real event times dwarf lateness, so 0 never crosses a window)
        wm_ms = state.getCurrentWatermarkMs()
        now_ms = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            new, pane, timeout = machine.on_timeout(state.get, wm_ms, now_ms)
            if new is None:
                state.remove()
            else:
                state.update(new)
                state.setTimeoutDuration(timeout)
            if pane is not None:
                yield emit(key, *pane)
            return
        st = state.get if state.exists else _WatermarkPaneMachine.ZERO
        arrived, end_ms = 0, None
        for pdf in pdf_iter:
            if len(pdf):
                arrived += int(pdf[value_col].sum())
                end_ms = int(pdf["__window_end_ms"].iloc[0])
        new, timeout = machine.on_data(st, arrived, end_ms, now_ms)
        state.update(new)
        state.setTimeoutDuration(timeout)
        return

    return with_win.groupBy(*key_cols, "window_start").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=(
            "total long, delta long, pane_index long, fired int, "
            "end_ms long, armed int, deadline long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


class StreamFixture:
    """TestStream analog (testing/package.scala:27-34): scripted micro-batches
    with watermark advancement between them.

    Each ``add_batch`` writes one file into a staging dir; with
    ``maxFilesPerTrigger=1`` the file source replays them as separate
    micro-batches in order, so the watermark (max event time − delay)
    advances batch by batch — late rows arriving after the watermark passed
    their window are dropped, exactly the Beam TestStream late-data scenario.
    """

    def __init__(self, spark: SparkSession, schema: str):
        self.spark = spark
        self.schema = schema
        self.dir = tempfile.mkdtemp(prefix="scio_spark_stream_")
        self._n = 0

    def add_batch(self, rows: list) -> "StreamFixture":
        df = self.spark.createDataFrame(rows, self.schema)
        # repartition(1), NOT coalesce(1): coalesce folds the parallelized
        # local relation's 32 python-pickled partitions into ONE task that
        # starts a python worker per partition serially (~5 s per batch);
        # repartition evaluates them in parallel and one reducer writes
        # (~0.5 s) — same single-file output
        df.repartition(1).write.mode("overwrite").parquet(
            os.path.join(self.dir, f"batch_{self._n:05d}")
        )
        self._n += 1
        return self

    def stream(self) -> DataFrame:
        """One micro-batch per staged batch-dir (ordered by path)."""
        return (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.dir + "/batch_*")
        )

    def run(
        self,
        pipeline: Callable[[DataFrame], DataFrame],
        output_mode: str = "append",
    ) -> DataFrame:
        return run_to_memory(pipeline(self.stream()), output_mode)

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def refreshing_side_input(
    stream: DataFrame,
    side_path: str,
    on: str | Sequence[str],
    sink,
    fmt: str = "parquet",
    how: str = "left",
    broadcast: bool = True,
):
    """Stream enriched by a side table that REFRESHES between micro-batches
    — the scio RefreshingSideInputExample
    (scio-examples/.../extra/RefreshingSideInputExample.scala) pattern
    (there: a Guava Supplier re-polled per bundle; here: per micro-batch).

    A naive stream-static join does NOT refresh: the static side's file
    index is snapshotted at plan time, so an atomically-replaced side
    table either serves stale rows or kills the query with deleted-file
    errors (verified in tests). The correct Spark shape is ``foreachBatch``
    with a FRESH read of the side path per batch — each micro-batch plans
    its own scan, picking up whatever the path holds at batch start; an
    atomic publisher (write aside + rename, operators/merge.py _swap_table)
    guarantees each batch sees a complete snapshot.

    ``sink(enriched_batch_df, batch_id)`` receives the joined batch —
    same contract as ``run_foreach_batch``. The side read is broadcast by
    default (driver-sized refresh data, the scio side-input contract).
    Returns the started StreamingQuery (caller stops it)."""

    def handle(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        side = spark.read.format(fmt).load(side_path)
        if broadcast:
            side = F.broadcast(side)
        sink(batch_df.join(side, on=on, how=how), batch_id)

    return (
        stream.writeStream.foreachBatch(handle)
        .outputMode("append")
        .start()
    )
