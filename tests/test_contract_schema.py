"""Driver-canonicalizer compatibility contract.

The correctness gate hashes query output after a pandas round-trip, and
its type-tagged hash cannot canonicalize complex or exotic scalar types:
r6 went red on an array column (group_by_key), r7 on a raw decimal column
(hash_filter) even though both answers were value-exact.  This test pins
the contract: every `queries()` entry must return only plain scalar
columns — integral / double / string / boolean / date / timestamp.
Decimal STAGING inside a query is fine (and encouraged for associative
sums); the final projection must cast back to double.
"""

import os
import re

import pyspark.sql.types as T
import pytest

import __spark_entry__ as ent

SF = "/root/testdata/sf0.001"

ALLOWED = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


@pytest.mark.parametrize("qname", sorted(ent.queries()))
def test_query_output_schema_is_driver_hashable(spark, qname):
    df = ent.queries()[qname](spark, SF)
    offending = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if not isinstance(f.dataType, ALLOWED)
    ]
    assert not offending, (
        f"{qname} returns non-hashable column(s) {offending}: the driver "
        "gate cannot canonicalize decimal/array/map/struct/binary outputs "
        "(r6 group_by_key, r7 hash_filter). Cast the final projection to a "
        "plain scalar type."
    )


def test_queries_and_oracles_align():
    """Every oracle key has a query; count drift caught here, not at the
    driver."""
    q, o = set(ent.queries()), set(ent.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    assert q == o, f"queries without oracles: {sorted(q - o)}"
    assert ent.WALL_CLOCK <= q, sorted(ent.WALL_CLOCK - q)
    assert set(ent.SOAK) <= q, sorted(set(ent.SOAK) - q)


def test_query_order_matches_coverage_map():
    """The driver window is the queries() order; the committed COVERAGE.md
    (tools/coverage_map.py) lists the same names in the same order, so a
    reorder or rename shows up here rather than in the next gate round."""
    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(path) as f:
        rows = re.findall(r"^\| \d+ \| (\w+) \|", f.read(), re.MULTILINE)
    assert rows == list(ent.queries())
