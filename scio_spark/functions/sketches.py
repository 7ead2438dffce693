"""Sketches & approximate/dimensional aggregation.

Reference mapping (SURVEY §2.2, §2.7):
- ZetaSketch HLL++ mergeable sketches (scio-extra hll/zetasketch/
  SCollectionSyntax.scala:44-116 asZetaSketchHll/sumHll) → Spark 3.5+
  DataSketches ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``
  — same mergeability contract (sketch per shard → union → estimate).
- countApproxDistinct (SCollection.scala:570) → ``approx_count_distinct``.
- quantilesApprox (SCollection.scala:834) → ``percentile_approx``.
- Count-Min Sketch (Algebird CMS in PairSkewedSCollectionFunctions.scala:21)
  → ``count_min_sketch`` binary + exact-count heavy-hitter helper (the CMS in
  scio is only used to FIND hot keys; Catalyst's partial agg makes the exact
  count equally cheap for that purpose).
- rollupAndCount (scio-extra rollup/syntax/SCollectionSyntax.scala:47 — manual
  rollup expansion) → native ``rollup()`` / ``cube()`` / GROUPING SETS.
- Bloom filters as values (scio-core hash/ApproxFilter.scala,
  MutableScalableBloomFilter.scala) → used internally by sparse joins
  (operators/joins.py); Spark's runtime row-level BF join covers the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_sketch(col, lgk: int = 14) -> Column:
    """Mergeable HLL sketch (binary). asZetaSketchHll analog. Default lgk=14
    (16k registers, ~0.8% rsd): stays in the exact coupon regime well past
    10^3 distincts — lgk=12 already drifted (1488 vs 1500) at sf0.1."""
    return F.hll_sketch_agg(col, lgk)


def hll_union(col) -> Column:
    """Merge sketches (sumHll analog)."""
    return F.hll_union_agg(col)


def hll_estimate(col) -> Column:
    return F.hll_sketch_estimate(col)


def approx_distinct_via_merge(df: DataFrame, shard_col: str, value_col: str) -> DataFrame:
    """Two-level distinct count: per-shard sketches, then a single union —
    the scio sumHll pattern, exact at low cardinality (coupon mode)."""
    per_shard = df.groupBy(shard_col).agg(
        hll_sketch(value_col).alias("sketch")
    )
    return per_shard.agg(
        hll_estimate(hll_union(F.col("sketch"))).alias("n_distinct")
    )


def count_min_sketch(col, eps: float = 0.001, confidence: float = 0.99, seed: int = 42) -> Column:
    """CMS binary sketch (mergeable)."""
    return F.count_min_sketch(col, F.lit(eps), F.lit(confidence), F.lit(seed))


def heavy_hitters(df: DataFrame, key_cols, threshold: int) -> DataFrame:
    """Keys with frequency > threshold — scio's skewedJoin hot-key detection
    (PairSkewedSCollectionFunctions.scala:26-55, default threshold 9000).
    Exact counts via partial agg; at 100 TB this is one map-side-combined
    shuffle of (key, count) pairs only."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") > threshold)
    )


def rollup_agg(df: DataFrame, dims, aggs) -> DataFrame:
    """rollupAndCount analog — native ROLLUP (scio expands rollups manually
    via a user fn + re-aggregation; Catalyst's Expand node does this in one
    pass with partial aggregation)."""
    return df.rollup(*dims).agg(*aggs)


def cube_agg(df: DataFrame, dims, aggs) -> DataFrame:
    return df.cube(*dims).agg(*aggs)
