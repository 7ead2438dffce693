"""Shared helpers: checkout paths, statistics, host metadata, memory sampling."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
MIN_TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile). With ten or fewer samples there is no such
    percentile and the maximum is returned at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= MIN_TAIL_BEYOND:
        return (xs[-1] if xs else 0.0), 100.0
    return xs[n - MIN_TAIL_BEYOND - 1], 100.0 * (n - MIN_TAIL_BEYOND) / n


def quantile(values, q: float) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


def cores() -> int:
    """Local parallelism N: half the cores the host gives this process, at
    most 4. A pandas-UDF task keeps a JVM thread and its Python worker busy,
    and the JVM's compiler and GC threads, the Python driver and the event
    generator need cores too; with N at the core count, event_stream's
    latency was 40% higher and spread four times as much between runs."""
    return max(1, min(4, len(os.sched_getaffinity(0)) // 2))


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_pressure() -> float | None:
    """Share of the last 60 s in which some task waited for a CPU (PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split()[2].split("=")[1]) / 100
    except (OSError, IndexError, ValueError):
        return None


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU time since boot in clock ticks, from /proc/stat.
    Stolen time is time the hypervisor ran another machine while this one's
    CPUs had work: a host busy with other tenants shows here."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def source_digest() -> str:
    """Content hash of the library under test. The checkout the benchmark
    runs in is not a git repository, so this stands in for the commit."""
    h = hashlib.sha256()
    files = sorted((ROOT / "scio_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def descendants(root_pid: int) -> list[tuple[int, int]]:
    """(pid, depth) of every descendant of root_pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [(p, 1) for p in children.get(root_pid, [])]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((c, depth + 1) for c in children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory of one process now (Pss from
    smaps_rollup): pages shared with other processes, such as the
    copy-on-write pages of forked Python workers, count once in all."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Peak resident memory of the driver JVM this process started and of
    its Python workers: their proportional resident memory, summed at each
    sample, maximised over samples. Short-lived helpers the JVM forks
    (shell commands) are not counted: between fork and exec they share the
    JVM's memory."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            procs = []
            for pid, depth in descendants(me):
                name = _comm(pid)
                if (depth == 1 and name == "java") or (depth > 1 and name.startswith("python")):
                    procs.append((name, _pss_bytes(pid)))
            total = sum(b for _, b in procs)
            if total > self.peak:
                self.peak = total
                self.at_peak = {}
                for name, b in procs:
                    self.at_peak[name] = self.at_peak.get(name, 0.0) + b / 2**20
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
