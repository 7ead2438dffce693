"""Regenerate COVERAGE.md — the per-round driver-coverage map.

The external driver records correctness rows for only the FIRST 50
``queries()`` entries each round, so ``__spark_entry__.CONTRACT`` rotates
its ordering (see the comment above it). This map makes the rotation auditable:
for every query, which rounds produced a driver row and what the latest
driver verdict was — so a regression in a rotated-out query is traceable to
the last round that actually checked it.

Freshness ratchet (VERDICT r14 ask #5): the tool exits NON-ZERO when any
query has existed through two or more completed driver rounds without ever
earning a driver row. "Existed through round R" is tracked in
``tools/query_first_seen.json``: when a query name is first observed by this
tool, we record the max completed correctness round at that moment; every
correctness round strictly greater than that baseline in which the query is
absent counts as a missed round. Two misses with zero rows = failure, so a
never-rowed addition can never slip past a second window unnoticed —
unless it sits in the NEXT window, where it is scheduled for its first row.

Usage: python tools/coverage_map.py   (writes COVERAGE.md; run per round
after CORRECTNESS_r{N}.json lands, plus once before the round to record the
planned window.)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIRST_SEEN_PATH = os.path.join(REPO, "tools", "query_first_seen.json")


def load_rounds(repo: str = REPO) -> dict[int, dict]:
    rounds: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)
    return rounds


def update_first_seen(
    names: list[str], rounds: dict[int, dict], first_seen: dict[str, int]
) -> dict[str, int]:
    """Record, for each query, the max completed round when first observed.

    For a query that already has driver rows, backfill to (earliest row
    round - 1) so history stays consistent if the state file is rebuilt.
    Returns the updated mapping (also mutates in place).
    """
    max_round = max(rounds, default=0)
    for name in names:
        if name in first_seen:
            continue
        rowed = [r for r in sorted(rounds) if name in rounds[r]]
        first_seen[name] = (rowed[0] - 1) if rowed else max_round
    return first_seen


def stale_never_rowed(
    names: list[str],
    rounds: dict[int, dict],
    first_seen: dict[str, int],
    window: list[str] = (),
) -> list[str]:
    """Queries that missed >= 2 completed gate rounds with zero rows ever.
    A query in ``window`` (the next gate window) is scheduled, not stale."""
    out = []
    for name in names:
        if name in window or any(name in rounds[r] for r in rounds):
            continue
        base = first_seen.get(name, max(rounds, default=0))
        missed = sum(1 for r in rounds if r > base and name not in rounds[r])
        if missed >= 2:
            out.append(name)
    return out


def main() -> int:
    rounds = load_rounds()

    sys.path.insert(0, REPO)
    import __spark_entry__ as ent

    names = list(ent.queries())
    window = set(names[:50])
    oracles = set(ent.oracle_sql())

    first_seen: dict[str, int] = {}
    if os.path.exists(FIRST_SEEN_PATH):
        with open(FIRST_SEEN_PATH) as f:
            first_seen = json.load(f)
    update_first_seen(names, rounds, first_seen)
    with open(FIRST_SEEN_PATH, "w") as f:
        json.dump(first_seen, f, indent=0, sort_keys=True)
        f.write("\n")

    def verdict(rec: dict) -> str:
        if rec.get("err") == "no_oracle":
            return "rows-only"
        if rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match"):
            return "green"
        return "RED"

    lines = [
        "# Driver-coverage map (generated by tools/coverage_map.py)",
        "",
        "The external gate records the first 50 `queries()` entries per round;",
        "the dict rotates so every query keeps getting driver rows. This table",
        "shows, per query: the rounds that produced a driver row (with the",
        "verdict of the most recent one) and whether the query sits in the",
        "NEXT round's 50-entry window. `tools/check_oracle.py` value-checks",
        "all queries locally every round regardless. The tool exits non-zero",
        "if any query has existed through two completed driver rounds without",
        "a driver row (freshness ratchet; state: tools/query_first_seen.json).",
        "",
        "| # | query | driver rows | latest verdict | next window | oracle |",
        "|---|-------|-------------|----------------|-------------|--------|",
    ]
    for i, name in enumerate(names, 1):
        seen = [r for r in sorted(rounds) if name in rounds[r]]
        latest = f"r{seen[-1]} {verdict(rounds[seen[-1]][name])}" if seen else "never"
        lines.append(
            f"| {i} | {name} | {', '.join(f'r{r}' for r in seen) or '—'} "
            f"| {latest} | {'yes' if name in window else 'no'} "
            f"| {'sql' if name in oracles else 'rows-only'} |"
        )
    never = [n for n in names if not any(n in rounds[r] for r in rounds)]
    stale = [
        n
        for n in names
        if n not in window
        and (max((r for r in rounds if n in rounds[r]), default=0) < max(rounds, default=0))
    ]
    ratchet = stale_never_rowed(names, rounds, first_seen, names[:50])
    scheduled = [
        n for n in stale_never_rowed(names, rounds, first_seen) if n not in ratchet
    ]
    lines += [
        "",
        f"Queries with no driver row yet: {', '.join(never) or 'none'}.",
        f"Rotated out AND not checked last round: {', '.join(stale) or 'none'}.",
        f"Never-rowed past two rounds but scheduled in the next window: "
        f"{', '.join(scheduled) or 'none'}.",
        (
            "FRESHNESS RATCHET FAILED — never-rowed after >=2 completed rounds: "
            + ", ".join(ratchet)
            + "."
            if ratchet
            else "Freshness ratchet: OK (no query never-rowed past two rounds)."
        ),
        "",
    ]
    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} queries, {len(rounds)} rounds recorded")
    if ratchet:
        print(
            f"FRESHNESS RATCHET: {len(ratchet)} never-rowed quer"
            f"{'y' if len(ratchet) == 1 else 'ies'} existed through >=2 "
            f"completed rounds: {', '.join(ratchet)}",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
