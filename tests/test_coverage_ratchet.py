"""Freshness ratchet in tools/coverage_map.py (VERDICT r14 ask #5).

A query that exists through two or more completed driver rounds without
ever earning a driver row must trip the ratchet so never-rowed additions
can't slip past a second 50-entry window.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import coverage_map as cm  # noqa: E402


def test_ratchet_fires_on_synthetic_stale_entry():
    # q_new first observed after round 12 completed; rounds 13 and 14 ran
    # without rowing it -> 2 misses -> ratchet fires.
    rounds = {13: {"other": {}}, 14: {"other": {}}}
    first_seen = {"q_new": 12, "other": 0}
    assert cm.stale_never_rowed(["q_new", "other"], rounds, first_seen) == ["q_new"]


def test_ratchet_tolerates_one_missed_round():
    # Added during round 14 (after r13 completed): only round 14 missed it.
    rounds = {13: {"other": {}}, 14: {"other": {}}}
    first_seen = {"q_new": 13}
    assert cm.stale_never_rowed(["q_new"], rounds, first_seen) == []


def test_ratchet_clears_once_rowed():
    rounds = {13: {}, 14: {}, 15: {"q_new": {"rows_match": True}}}
    first_seen = {"q_new": 12}
    assert cm.stale_never_rowed(["q_new"], rounds, first_seen) == []


def test_ratchet_counts_next_window_as_scheduled():
    # overdue after two missed rounds, but it sits in the next window
    rounds = {13: {"other": {}}, 14: {"other": {}}}
    first_seen = {"q_new": 12}
    assert cm.stale_never_rowed(["q_new"], rounds, first_seen, ["q_new"]) == []
    assert cm.stale_never_rowed(["q_new"], rounds, first_seen, ["other"]) == ["q_new"]


def test_first_seen_backfills_from_rows_and_records_new():
    rounds = {11: {"rowed": {}}, 12: {}}
    fs = cm.update_first_seen(["rowed", "brand_new"], rounds, {})
    assert fs["rowed"] == 10  # earliest row round - 1
    assert fs["brand_new"] == 12  # max completed round at first observation


def test_repo_state_is_clean():
    # The real repo must currently pass the ratchet, and every overdue
    # never-rowed query must head the next gate window.
    rounds = cm.load_rounds()
    import json

    with open(cm.FIRST_SEEN_PATH) as f:
        first_seen = json.load(f)
    sys.path.insert(0, cm.REPO)
    import __spark_entry__ as ent

    names = list(ent.queries())
    cm.update_first_seen(names, rounds, first_seen)
    assert cm.stale_never_rowed(names, rounds, first_seen, names[:50]) == []
    overdue = cm.stale_never_rowed(names, rounds, first_seen)
    assert sorted(names[: len(overdue)]) == sorted(overdue)
