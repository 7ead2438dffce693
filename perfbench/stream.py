"""Open-loop event stream: one generator thread writes seeded event files on
a fixed schedule into a source directory, whether or not the system keeps
up. The pipeline under test is ``streaming.core.stream_dedup`` feeding
``streaming.core.maintain_rollup``, which upserts a windowed per-user rollup
table each micro-batch.

Phases: a pre-written backlog is drained first (its drain time gives the
throughput ceiling), then events arrive at a fixed rate below that ceiling
for LIVE_WARM_S plus ``seconds``; the first LIVE_WARM_S let the query settle
from the drain's large batches into the small ones of the fixed rate. Each
event's latency runs from its scheduled creation to the commit of the first
micro-batch that contains it, measured over the last ``seconds``."""

from __future__ import annotations

import json
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from batch import Outcome, co
from common import fresh_dir, median, quantile, tail
from inputs import EventPlan, plan_events

RATE = 2000.0           # events per second in the fixed-rate phase
FILE_INTERVAL_S = 0.25  # one source file per interval
BACKLOG_S = 30.0        # seconds of events written before the query starts
PRIME_FILES = 8         # backlog files the untimed priming query drains
LIVE_WARM_S = 5.0       # first seconds of the fixed-rate phase, not measured
WINDOW = "10 seconds"
WATERMARK_DELAY = "10 seconds"
WINDOW_US = 10_000_000
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
SCHEMA = "event_id long, user_id long, ts timestamp, created timestamp, value double"


def _write_file(src: Path, plan: EventPlan, k: int, t0_s: float) -> None:
    rows = plan.file_of == k
    ts = EVENT_EPOCH + plan.ts_us[rows].astype("timedelta64[us]")
    created = EVENT_EPOCH + np.round((t0_s + plan.offset_s[rows]) * 1e6).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(plan.event_id[rows], pa.int64()),
        "user_id": pa.array(plan.user_id[rows], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "created": pa.array(created, pa.timestamp("us", tz="UTC")),
        "value": pa.array(plan.value[rows], pa.float64()),
    })
    name = f"{t0_s:08.2f}-{k:05d}.parquet"
    pq.write_table(table, src / f".{name}")
    (src / f".{name}").rename(src / name)


class Generator(threading.Thread):
    """Writes file k when its last event is due: at start + (k + 1) * interval."""

    def __init__(self, src: Path, plan: EventPlan, t0_s: float):
        super().__init__(daemon=True)
        self.src, self.plan, self.t0_s = src, plan, t0_s
        self.start_wall = 0.0
        self.written: list[float] = []  # wall time each file became visible
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for k in range(self.plan.n_files):
                due = self.start_wall + (k + 1) * FILE_INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                _write_file(self.src, self.plan, k, self.t0_s)
                now = time.time()
                self.written.append(now)
                self.late.append(max(0.0, now - due))
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def _batches_by_file(ckpt: Path) -> dict[str, int]:
    """Source file name → query batch id, from the checkpoint's source log
    (file → log offset) and offset log (batch → end log offset)."""
    file_offset = {}
    for p in (ckpt / "sources" / "0").iterdir():
        if p.name.split(".")[0].isdigit():  # "<n>" and compacted "<n>.compact"
            for line in p.read_text().splitlines()[1:]:
                entry = json.loads(line)
                file_offset[Path(entry["path"]).name] = entry["batchId"]
    batch_end = []
    for p in (ckpt / "offsets").iterdir():
        if p.name.isdigit():
            lines = p.read_text().splitlines()
            batch_end.append((json.loads(lines[-1])["logOffset"], int(p.name)))
    batch_end.sort()
    out = {}
    for name, off in file_offset.items():
        out[name] = next(b for end, b in batch_end if end >= off)
    return out


def _commit_wall(ckpt: Path, batch: int) -> float:
    return (ckpt / "commits" / str(batch)).stat().st_mtime_ns / 1e9


class EventStream:
    def __init__(self, spark, work: Path, seed: int, seconds: float):
        t0 = time.perf_counter()
        rng = np.random.default_rng(seed)
        self.spark = spark
        self.work = work
        self.backlog = plan_events(rng, BACKLOG_S, RATE, FILE_INTERVAL_S, 0.0, 0)
        self.live = plan_events(
            rng, LIVE_WARM_S + seconds, RATE, FILE_INTERVAL_S, BACKLOG_S,
            int(self.backlog.event_id.max()) + 1,
        )
        self.generation_s = time.perf_counter() - t0

    def _start(self, src: Path, table: str, ckpt: Path):
        from pyspark.sql import functions as F

        from scio_spark.streaming.core import maintain_rollup, stream_dedup

        stream = self.spark.readStream.schema(SCHEMA).parquet(str(src))
        # Global dedup: stream_dedup(within=...) defines a watermark, and
        # maintain_rollup defines its own; Spark rejects a redefined watermark.
        deduped = stream_dedup(stream, ["event_id"])
        return maintain_rollup(
            deduped, table, "ts", WINDOW, WATERMARK_DELAY, ["user_id"],
            [F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum")],
            checkpoint=str(ckpt),
        )

    def _prime(self) -> float:
        """Untimed run of the pipeline over the first backlog files: the
        JVM's first streaming query pays one-time costs (state store,
        stateful codegen) that would otherwise land in the drain."""
        t0 = time.perf_counter()
        base = fresh_dir(self.work / f"prime-{time.time_ns()}")
        (base / "source").mkdir()
        for k in range(PRIME_FILES):
            _write_file(base / "source", self.backlog, k, 0.0)
        query = self._start(base / "source", str(base / "rollup"), base / "checkpoint")
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return time.perf_counter() - t0

    def run(self, seconds: float, tracer=None, check: bool = True) -> Outcome:
        """``check=False`` skips the comparison with DuckDB (the watermark
        check stays): for repeat runs of the same events in one process."""
        prime_s = self._prime()
        if tracer is not None:
            tracer.reset()
        base = fresh_dir(self.work / f"stream-{time.time_ns()}")
        src, table, ckpt = base / "source", str(base / "rollup"), base / "checkpoint"
        src.mkdir()
        for k in range(self.backlog.n_files):
            _write_file(src, self.backlog, k, 0.0)

        start_ms = time.time() * 1e3
        t_start = time.time()
        query = self._start(src, table, ckpt)
        try:
            query.processAllAvailable()
            gen = Generator(src, self.live, BACKLOG_S)
            gen.start_wall = time.time()
            gen.start()
            gen.join(timeout=LIVE_WARM_S + seconds + 60)
            if gen.error is not None or gen.is_alive():
                raise RuntimeError(f"event generator failed: {gen.error}")
            query.processAllAvailable()
        finally:
            query.stop()
        window = (start_ms, time.time() * 1e3)
        progress = [json.loads(p.json) for p in query.recentProgress]

        batch_of = _batches_by_file(ckpt)
        files = sorted(batch_of)
        backlog_files = files[: self.backlog.n_files]
        live_files = files[self.backlog.n_files:]
        drain_s = max(_commit_wall(ckpt, batch_of[f]) for f in backlog_files) - t_start
        commit = np.array([_commit_wall(ckpt, batch_of[f]) for f in live_files])
        created = gen.start_wall + self.live.offset_s
        warm_files = round(LIVE_WARM_S / FILE_INTERVAL_S)
        measured = self.live.file_of >= warm_files
        latency = (commit[self.live.file_of] - created)[measured]
        # the events of one file are written and committed together, so the
        # tail counts files, each at the latency of its oldest event: ten
        # events beyond a percentile would all sit in the slowest batch
        file_latency = np.full(len(live_files), -np.inf)
        np.maximum.at(file_latency, self.live.file_of[measured], latency)
        file_latency = file_latency[warm_files:]
        tail_v, tail_p = tail(file_latency.tolist())

        layer = self._streaming_metrics(progress, batch_of, live_files, gen)
        correct, detail = self._check(table) if check else (True, "not checked")
        if layer["streaming.rows_dropped_by_watermark"]:
            correct, detail = False, "rows dropped by the watermark"
        layer["harness.gen_late_p99_s"] = quantile(gen.late, 0.99)
        layer["streaming.drain_rows_per_s"] = len(self.backlog.event_id) / drain_s
        n_events = len(self.backlog.event_id) + len(self.live.event_id)
        return Outcome(
            metrics={
                "wall_s": drain_s,
                "job_p50_s": float(np.median(latency)),
                "job_tail_s": tail_v,
            },
            attempted=n_events,
            failed=0 if correct else n_events,
            window_ms=window,
            samples={
                "events": len(latency), "files": len(file_latency),
                "file_latency_s": [round(float(x), 3) for x in file_latency],
                "job_tail_percentile": tail_p,
                "backlog_rows": len(self.backlog.event_id),
                "prime_s": prime_s,
                "stream_rows_per_s": len(self.backlog.event_id) / drain_s,
                "stream_latency_p50_s": float(np.median(latency)),
                "stream_latency_tail_s": tail_v,
                "check": detail,
                "layer": layer,
            },
        )

    def _streaming_metrics(self, progress, batch_of, live_files, gen) -> dict:
        dur = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
        ops = [o for p in progress for o in p.get("stateOperators", [])]
        first_live = min(batch_of[f] for f in live_files)
        live = [p for p in progress if p["batchId"] >= first_live]
        live_batch = [batch_of[f] for f in live_files]
        backlog = []
        for p in live:
            started = _iso_wall(p["timestamp"])
            visible = sum(1 for w in gen.written if w <= started)
            done = sum(1 for b in live_batch if b < p["batchId"])
            backlog.append(visible - done)
        last = progress[-1].get("stateOperators", []) if progress else []
        dropped_dups = sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)
        n_dups = self.backlog.n_duplicates + self.live.n_duplicates
        return {
            "streaming.batches": float(len(progress)),
            "streaming.batch_p50_ms": median([p["durationMs"].get("triggerExecution", 0) for p in live]),
            "streaming.add_batch_s": sum(dur(p, "addBatch") for p in progress),
            "streaming.plan_s": sum(dur(p, "queryPlanning") for p in progress),
            "streaming.wal_commit_s": sum(dur(p, "walCommit") + dur(p, "commitOffsets") for p in progress),
            "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for o in last)),
            "streaming.state_bytes": float(sum(o.get("memoryUsedBytes", 0) for o in last)),
            "streaming.state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1e3,
            "streaming.backlog_files": median(backlog),
            "streaming.rows_dropped_by_watermark": float(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
            "streaming.dedup_drop_ratio": dropped_dups / n_dups if n_dups else 1.0,
        }

    def _check(self, table: str) -> tuple[bool, str]:
        """The rollup table against a DuckDB aggregate of the de-duplicated
        generated events; and no row may be dropped by the watermark."""
        import duckdb

        ev = pa.table({
            "event_id": np.concatenate([self.backlog.event_id, self.live.event_id]),
            "user_id": np.concatenate([self.backlog.user_id, self.live.user_id]),
            "win": np.concatenate([self.backlog.ts_us, self.live.ts_us]) // WINDOW_US * WINDOW_US,
            "value": np.concatenate([self.backlog.value, self.live.value]),
        })
        con = duckdb.connect()
        con.register("ev", ev)
        want = con.execute(
            "SELECT win, user_id, count(*), sum(value) FROM "
            "(SELECT DISTINCT event_id, user_id, win, value FROM ev) GROUP BY ALL"
        ).fetchall()
        epoch_us = int(EVENT_EPOCH.astype("datetime64[us]").astype(np.int64))
        got = con.execute(
            f"SELECT CAST(epoch_us(window_start) AS BIGINT) - {epoch_us}, user_id, n, value_sum "
            f"FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        con.close()
        want, got = sorted(want), sorted(got)
        if len(want) != len(got):
            return False, f"rows: rollup {len(got)} vs oracle {len(want)}"
        for a, b in zip(got, want):
            if a[:3] != b[:3] or not co.approx_eq(float(a[3]), float(b[3]), 1e-9):
                return False, f"row differs: rollup {a} vs oracle {b}"
        return True, f"{len(got)} rollup rows match"


def _iso_wall(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()

