"""APPROX_AT_SCALE lane hardening in tools/check_oracle.py (ADVICE r14):
the tolerant sketch compare must be gated on a PARSED scale factor (not a
substring match a stray directory name can trip) and must key-align rows
before the tolerant numeric compare."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import check_oracle as co  # noqa: E402


def test_parse_sf():
    assert co.parse_sf("/root/testdata/sf0.01") == 0.01
    assert co.parse_sf("/root/testdata/sf1") == 1.0
    assert co.parse_sf("/root/testdata/sf10/") == 10.0
    # outside the convention -> None -> strict contract regime
    assert co.parse_sf("/tmp/mydata") is None
    assert co.parse_sf("/tmp/sf0.01_copy") is None


def test_sketch_aligned_eq_single_row():
    spec = {"tol": 0.02, "keys": []}
    assert co.sketch_aligned_eq([(15043,)], [(15000,)], ["n"], spec)
    assert not co.sketch_aligned_eq([(20000,)], [(15000,)], ["n"], spec)


def test_sketch_aligned_eq_key_alignment():
    """Two keys whose approx values straddle each other: a positional
    sorted-zip would pair key a's value with key b's and pass spuriously
    or fail spuriously; key alignment compares like with like."""
    spec = {"tol": 0.02, "keys": ["k"]}
    cols = ["k", "n"]  # canon order (sorted names)
    s = [("a", 1000), ("b", 1010)]
    d = [("a", 1005), ("b", 1008)]
    assert co.sketch_aligned_eq(s, d, cols, spec)
    # same multisets of values but swapped across keys: must FAIL when
    # the per-key delta exceeds tol
    s2 = [("a", 1000), ("b", 2000)]
    d2 = [("a", 2000), ("b", 1000)]
    assert not co.sketch_aligned_eq(s2, d2, cols, spec)
    # missing key on one side fails
    assert not co.sketch_aligned_eq([("a", 1000)], [("b", 1000)], cols, spec)


def test_oracle_duckdb_is_capped_and_spills_inside_the_checkout():
    con = co.connect_oracle()
    limit, spill = con.execute(
        "SELECT current_setting('memory_limit'), current_setting('temp_directory')"
    ).fetchone()
    con.close()
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert limit.endswith("GiB") or limit.endswith("MiB")
    scale = 2**30 if limit.endswith("GiB") else 2**20
    assert float(limit.split()[0]) * scale <= mem / 4 * 1.01
    root = os.path.dirname(os.path.dirname(os.path.abspath(co.__file__)))
    assert spill == os.path.join(root, ".tmp", "duckdb")
    with open(os.path.join(root, ".gitignore")) as f:
        assert ".tmp/" in f.read().split()
