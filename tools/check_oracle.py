"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry at a given SF dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet, and compares:
row count, column names (sorted), and exact values (columns sorted by name,
rows sorted) — stricter than any reasonable hash, so passing here implies
passing the driver's order-insensitive value-hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import sys
from collections import defaultdict

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, dt.datetime):
        # Value-level normalization only: PySpark collect() returns naive
        # datetimes for BOTH TIMESTAMP (LTZ) and TIMESTAMP_NTZ, so tz-aware
        # DuckDB values must be converted to UTC-naive to compare at all.
        # Type-level LTZ/NTZ drift is caught separately by timestamp_types()
        # below — this normalization no longer masks it.
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return norm(v.asDict())
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def timestamp_types(spark_dtypes, con, sql):
    """Type-strict timestamp check: Spark `timestamp` (LTZ) must line up with
    DuckDB TIMESTAMPTZ, `timestamp_ntz` with plain TIMESTAMP. DuckDB's DB-API
    description reports both as 'DATETIME', so read the Arrow schema of a
    LIMIT 0 wrapper instead (arrow timestamp with tz <=> TIMESTAMPTZ).

    Returns a list of human-readable mismatch strings (empty = ok). This is
    exactly the class of bug the driver caught in r4's custom_window
    (TIMESTAMP vs TIMESTAMP_NTZ hashes differently driver-side) that the
    old tzinfo-stripping norm() masked locally.
    """
    import pyarrow as pa

    schema = con.execute(f"SELECT * FROM ({sql}) __t LIMIT 0").arrow().schema
    duck = {f.name: f.type for f in schema}
    bad = []
    for name, sdt in spark_dtypes:
        if name not in duck:
            continue
        d = duck[name]
        if sdt == "timestamp" and pa.types.is_timestamp(d) and d.tz is None:
            bad.append(f"{name}: spark TIMESTAMP(LTZ) vs duckdb TIMESTAMP(NTZ)")
        elif sdt == "timestamp_ntz" and pa.types.is_timestamp(d) and d.tz is not None:
            bad.append(f"{name}: spark TIMESTAMP_NTZ vs duckdb TIMESTAMPTZ")
        elif sdt.startswith("timestamp") and not pa.types.is_timestamp(d):
            bad.append(f"{name}: spark {sdt} vs duckdb {d}")
        elif not sdt.startswith("timestamp") and pa.types.is_timestamp(d):
            bad.append(f"{name}: spark {sdt} vs duckdb {d}")
    return bad


_INT_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def numeric_types(spark_dtypes, con, sql):
    """Numeric-FAMILY-strict check (r5 verdict item #2): the driver's
    value hash is type-tagged at the family level, so DuckDB
    SUM(BIGINT) -> HUGEINT (surfaced through Arrow as decimal128(38,0))
    hashes differently from Spark's BIGINT even when every value is
    identical — exactly how tfexample_roundtrip went red in r5 while
    passing the old value-only local gate.

    Calibration note: width drift WITHIN the integer family (int32 vs
    int64) is deliberately NOT flagged — dozens of driver-green rows
    (histogram r1-r3 BIGINT-vs-int32, text_features r5 INT-vs-int64, ...)
    prove the driver hash does not distinguish widths that both surface
    as Python ints. What it does distinguish is the FAMILY: ints vs
    HUGEINT/DECIMAL (Decimal objects), ints vs floats, floats vs
    decimals. Flags exactly those:

      * spark {tinyint..bigint} vs duckdb decimal/float  (the SUM trap)
      * spark double/float      vs duckdb decimal/integer
      * spark decimal           vs duckdb non-decimal

    Returns human-readable mismatch strings (empty = ok).
    """
    import pyarrow as pa

    schema = con.execute(f"SELECT * FROM ({sql}) __t LIMIT 0").arrow().schema
    duck = {f.name: f.type for f in schema}
    bad = []
    for name, sdt in spark_dtypes:
        if name not in duck:
            continue
        d = duck[name]
        if sdt in _INT_DTYPES and not pa.types.is_integer(d):
            hint = (
                " (HUGEINT/DECIMAL — wrap the oracle expr in "
                "CAST(... AS BIGINT))"
                if pa.types.is_decimal(d)
                else ""
            )
            bad.append(f"{name}: spark {sdt.upper()} vs duckdb {d}{hint}")
        elif sdt in ("double", "float") and not pa.types.is_floating(d):
            bad.append(f"{name}: spark {sdt.upper()} vs duckdb {d}")
        elif sdt.startswith("decimal") and not pa.types.is_decimal(d):
            bad.append(f"{name}: spark {sdt} vs duckdb {d}")
        elif (sdt == "boolean") != pa.types.is_boolean(d):
            # True == 1 in Python, so the value check alone cannot see a
            # bool-vs-int engine drift — but the driver's type-tagged
            # hash can (the same class as r7's decimal-vs-float64)
            bad.append(f"{name}: spark {sdt.upper()} vs duckdb {d}")
    return bad


def approx_eq(a, b, tol=1e-9):
    if isinstance(a, float) and isinstance(b, float):
        if math.isclose(a, b, rel_tol=tol, abs_tol=tol):
            return True
        return False
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(approx_eq(x, y, tol) for x, y in zip(a, b))
    return a == b


#: Approximate-by-design sketches: exact in their sparse/coupon regime at
#: the driver's contract scale (sf0.01 — where the driver hashes exact
#: values and these rows are green), approximate past it BY CONTRACT.
#: At larger SFs the gate accepts the documented error bound instead of
#: exactness, so a genuine regression (outside the sketch's contract)
#: still fails. Found at sf1 r14: hll_merge 15043 vs 15000 (0.29%).
APPROX_AT_SCALE = {
    "hll_merge": {"tol": 0.02, "keys": []},       # HLL++ rsd ≈ 1.04/√2^p
    "approx_distinct": {"tol": 0.02, "keys": []},  # same sketch family
}


def parse_sf(sf_dir: str) -> float | None:
    """Scale factor from the data dir's last path component (sf0.01 →
    0.01). None for paths outside the sfN convention — which the lane
    logic treats as the STRICT contract regime, so a stray directory
    name can't silently enable the tolerant compare (ADVICE r14)."""
    m = re.search(r"(?:^|/)sf(\d+(?:\.\d+)?)/*$", sf_dir)
    return float(m.group(1)) if m else None


def sketch_eq(a, b, tol):
    """Numeric comparison for the APPROX_AT_SCALE lane: ints AND floats
    within relative ``tol``; everything else exact."""
    num = (int, float)
    if (
        isinstance(a, num) and isinstance(b, num)
        and not isinstance(a, bool) and not isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(sketch_eq(x, y, tol) for x, y in zip(a, b))
    return a == b


def sketch_aligned_eq(s, d, cols_sorted, spec) -> bool:
    """APPROX_AT_SCALE compare with rows KEY-ALIGNED first: rows are
    grouped on the spec's declared key columns and only same-key rows
    are compared under the tolerance — a positional zip of sorted rows
    could pair rows from different keys once the tolerant numeric values
    reorder them (ADVICE r14; today's entries are single-row aggregates,
    but the lane is generic). ``s``/``d`` are canon() outputs (columns
    sorted by name), so key indices come from the sorted column list."""
    keyix = [i for i, c in enumerate(cols_sorted) if c in spec["keys"]]

    def key(row):
        return repr(tuple(row[i] for i in keyix))

    gs, gd = defaultdict(list), defaultdict(list)
    for r in s:
        gs[key(r)].append(r)
    for r in d:
        gd[key(r)].append(r)
    if sorted(gs) != sorted(gd):
        return False
    for k, a in gs.items():
        b = gd[k]
        if len(a) != len(b):
            return False
        a, b = sorted(a, key=repr), sorted(b, key=repr)
        if not all(sketch_eq(x, y, spec["tol"]) for x, y in zip(a, b)):
            return False
    return True


def connect_oracle():
    """DuckDB for the oracle side, capped at a quarter of physical memory
    and spilling into the checkout's gitignored ``.tmp/duckdb``. Without a
    cap, ``dedup_clusters`` at sf1 grew past 9 GB beside an 8g Spark heap
    on a 15 GB host and was OOM-killed. Resource settings only: the SQL and
    the comparison are unchanged."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    spill = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "duckdb"
    )
    return duckdb.connect(config={
        "memory_limit": f"{max(1, mem // 4 >> 20)}MB",
        "temp_directory": spill,
    })


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from scio_spark.context import build_session

    spark = build_session("oracle_check")

    con = connect_oracle()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    if not only:
        # driver smoke: entry() must run and return rows on sf0.001
        n = len(ent.entry(spark).collect())
        print(f"entry() smoke: {n} rows {'PASS' if n >= 1 else 'FAIL'}")

    qs, oracles = ent.queries(), ent.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        ok = True
        annotated_pass = False
        tmis = timestamp_types(sdf.dtypes, con, oracles[name])
        if tmis:
            ok = False
            print(f"FAIL {name}: timestamp type drift {tmis}")
        nmis = numeric_types(sdf.dtypes, con, oracles[name])
        if nmis:
            ok = False
            print(f"FAIL {name}: numeric type drift {nmis}")
        if sorted(scols) != sorted(dcols):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
        else:
            s, d = canon(srows, scols), canon(drows, dcols)
            if s != d:
                mism = [(a, b) for a, b in zip(s, d) if a != b]
                exact = len(mism) == 0
                appr = all(approx_eq(a, b, 1e-9) for a, b in zip(s, d))
                spec = APPROX_AT_SCALE.get(name)
                sf = parse_sf(sf_dir)
                # unknown/unparseable dirs count as the contract regime:
                # strict compare, never the tolerant lane
                at_contract_sf = sf is None or sf <= 0.01
                if appr:
                    print(
                        f"WARN {name}: {len(mism)} rows differ only within 1e-9 "
                        f"(hash WILL mismatch) e.g. {mism[0] if mism else ''}"
                    )
                    ok = False
                elif (
                    spec is not None
                    and not at_contract_sf
                    and sketch_aligned_eq(s, d, sorted(scols), spec)
                ):
                    # approximate sketch past its exact regime — within
                    # its documented error contract; still FAILS at the
                    # contract SF where the driver hashes exact values
                    annotated_pass = True
                    print(
                        f"PASS {name} ({len(srows)} rows; approx sketch "
                        f"within {spec['tol']:.0%} at this SF — exact at "
                        f"sf0.01, e.g. {mism[0]})"
                    )
                else:
                    ok = False
                    print(f"FAIL {name}: value mismatch e.g. {mism[0]}")
        if ok and not annotated_pass:
            print(f"PASS {name} ({len(srows)} rows)")
        elif not ok:
            failures.append(name)
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()
