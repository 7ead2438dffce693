"""Seeded inputs. Tables come from the repository's own generator
(``tools/gen_testdata.generate``), cached per (sf, seed) under
``.perfbench/inputs`` in the checkout; stream events are planned here.
Generation time is never counted in any metric."""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from common import ROOT, STATE

#: Seed to re-check a claimed gain on, never used while tuning a change.
HELD_OUT_SEED = 20261016
CACHE_KEEP = 4


def tables(sf: float, seed: int) -> str:
    """Directory of the generated tables for (sf, seed). The last path
    component is ``sf<sf>`` so ``check_oracle.parse_sf`` reads the scale."""
    cache = STATE / "inputs"
    out = cache / f"seed{seed}" / f"sf{sf:g}"
    if not (out / "embeddings.parquet").exists():
        sys.path.insert(0, str(ROOT / "tools"))
        from gen_testdata import generate

        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate(sf, str(tmp), seed)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    os.utime(out.parent)
    _evict(cache, keep=out.parent)
    return str(out)


def _evict(cache: Path, keep: Path) -> None:
    seeds = sorted(
        (p for p in cache.iterdir() if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for old in seeds[: max(0, len(seeds) - (CACHE_KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)


@dataclass
class EventPlan:
    """Events in creation order, cut into files of ``file_interval_s``.

    ``offset_s`` is each row's scheduled creation time relative to the
    start of its phase; ``ts`` is the event time (microseconds since
    2024-01-01), which for out-of-order rows lies up to ``ooo_max_s``
    before creation, and for duplicates repeats the original's."""

    event_id: np.ndarray
    user_id: np.ndarray
    ts_us: np.ndarray
    value: np.ndarray
    offset_s: np.ndarray
    file_of: np.ndarray
    n_files: int
    n_duplicates: int


def plan_events(
    rng: np.random.Generator,
    seconds: float,
    rate: float,
    file_interval_s: float,
    t0_s: float,
    id0: int,
    users: int = 2000,
    dup_frac: float = 0.05,
    dup_max_lag_s: float = 2.0,
    ooo_frac: float = 0.1,
    ooo_max_s: float = 3.0,
) -> EventPlan:
    n = int(round(seconds * rate))
    offset = np.arange(n) / rate
    event_id = id0 + np.arange(n, dtype=np.int64)
    # Zipf-skewed keys: the hottest user gets ~a tenth of the events
    user_id = (rng.zipf(1.3, n) - 1) % users
    ts_s = t0_s + offset - np.where(
        rng.random(n) < ooo_frac, rng.uniform(0, ooo_max_s, n), 0.0
    )
    value = np.round(rng.uniform(0.0, 100.0, n), 2)
    # duplicates: re-sent copies of an earlier event, up to dup_max_lag_s later
    n_dup = int(n * dup_frac)
    src = np.sort(rng.integers(0, n, n_dup))
    dup_offset = np.minimum(
        offset[src] + rng.uniform(0.05, dup_max_lag_s, n_dup), seconds - 1e-6
    )
    order = np.argsort(np.concatenate([offset, dup_offset]), kind="stable")
    pick = np.concatenate([np.arange(n), src])[order]
    all_offset = np.concatenate([offset, dup_offset])[order]
    n_files = int(np.ceil(seconds / file_interval_s))
    return EventPlan(
        event_id=event_id[pick],
        user_id=user_id[pick].astype(np.int64),
        ts_us=np.round(ts_s[pick] * 1e6).astype(np.int64),
        value=value[pick],
        offset_s=all_offset,
        file_of=np.minimum((all_offset // file_interval_s).astype(np.int64), n_files - 1),
        n_files=n_files,
        n_duplicates=n_dup,
    )
