"""Sketch and statistics contract queries: moments, histograms, exact and
t-digest quantiles, HLL, heavy hitters, rollups, cubes and grouping sets,
weighted and stratified samples, funnels, cohort retention, data checks,
job metrics and the k-anonymity audit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats one-pass (DoubleSCollectionFunctions.scala:29; StatCounter
    analog). Variance via exact integral sums so both engines agree bit-for-
    bit (l_quantity is integral)."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("count"),
        F.min("l_quantity").alias("min"),
        F.max("l_quantity").alias("max"),
        F.sum("l_quantity").alias("sum"),
        F.expr("SUM(l_quantity) / COUNT(l_quantity)").alias("mean"),
        F.expr(
            "SUM(l_quantity * l_quantity) / COUNT(l_quantity)"
            " - (SUM(l_quantity) / COUNT(l_quantity)) * (SUM(l_quantity) / COUNT(l_quantity))"
        ).alias("variance"),
    ).df


ORACLE_STATS = """
SELECT COUNT(l_quantity) AS count,
       MIN(l_quantity) AS min,
       MAX(l_quantity) AS max,
       SUM(l_quantity) AS sum,
       SUM(l_quantity) / COUNT(l_quantity) AS mean,
       SUM(l_quantity * l_quantity) / COUNT(l_quantity)
         - (SUM(l_quantity) / COUNT(l_quantity)) * (SUM(l_quantity) / COUNT(l_quantity)) AS variance
FROM lineitem
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countApproxDistinct (SCollection.scala:570) → HLL++; exact at low
    cardinality, oracled against exact COUNT(DISTINCT)."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_returnflag", 0.05).alias("n_flags"),
        F.approx_count_distinct("l_linestatus", 0.05).alias("n_status"),
    ).df


ORACLE_APPROX_DISTINCT = """
SELECT COUNT(DISTINCT l_returnflag) AS n_flags,
       COUNT(DISTINCT l_linestatus) AS n_status
FROM lineitem
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram (DoubleSCollectionFunctions.scala:67) — 10 uniform buckets
    over o_totalprice."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "orders")
        .histogram("o_totalprice", [0.0 + i * 60000.0 for i in range(11)])
        .df
    )


ORACLE_HISTOGRAM = """
SELECT bucket, COUNT(*) AS count FROM (
  SELECT CASE WHEN o_totalprice = 600000.0 THEN 10
              ELSE 1 + CAST(FLOOR(o_totalprice / 60000.0) AS INT) END AS bucket
  FROM orders
  WHERE o_totalprice >= 0.0 AND o_totalprice <= 600000.0
) GROUP BY bucket
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollupAndCount (scio-extra rollup SCollectionSyntax.scala:47) →
    native ROLLUP over (region, nation) with distinct-customer counts."""
    from scio_spark.functions import sketches as K

    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer").df
    n = _t(sc, sf_dir, "nation").df
    r = _t(sc, sf_dir, "region").df
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return K.rollup_agg(
        joined,
        ["r_name", "n_name"],
        [
            F.count(F.lit(1)).alias("n_cust"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        ],
    )


ORACLE_ROLLUP = """
SELECT r_name, n_name, COUNT(*) AS n_cust,
       COUNT(DISTINCT c_mktsegment) AS n_segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, orderstatus)."""
    from scio_spark.functions import sketches as K

    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").df
    return K.cube_agg(
        o,
        ["o_orderpriority", "o_orderstatus"],
        [
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias(
                "revenue"
            ),
        ],
    )


ORACLE_CUBE = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (scio-extra zetasketch sumHll analog): per-type
    user sketches → union → estimate; exact at this cardinality (coupon
    mode), oracled against COUNT(DISTINCT)."""
    from scio_spark.functions import sketches as K

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    return K.approx_distinct_via_merge(ev, "event_type", "user_id")


ORACLE_HLL_MERGE = "SELECT COUNT(DISTINCT user_id) AS n_distinct FROM events"


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection (PairSkewedSCollectionFunctions.scala:26-55 CMS
    hot-key path, exact-count variant)."""
    from scio_spark.functions import sketches as K

    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").df
    n = li.count()
    return K.heavy_hitters(li, "l_suppkey", threshold=int(n / 150))


def _heavy_oracle() -> str:
    return """
WITH c AS (SELECT l_suppkey, COUNT(*) AS freq FROM lineitem GROUP BY 1),
     t AS (SELECT CAST(COUNT(*) / 150 AS BIGINT) AS thr FROM lineitem)
SELECT l_suppkey, freq FROM c, t WHERE freq > thr
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (rollupAndCount generalization): {(priority,status),
    (priority), ()} in one pass."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").df
    o.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantilesApprox (SCollection.scala:834) — exact-percentile variant for
    oracle parity (continuous interpolation matches quantile_cont)."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "orders")
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
        )
        .df
    )


ORACLE_QUANTILES = """
SELECT quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75
FROM orders
"""


def q_quantiles_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approxQuantilesByKey (PairSCollectionFunctions.scala:620) — exact
    percentile per key for oracle parity."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "orders")
        .key_by("o_orderpriority")
        .agg_by_key(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        )
        .df
    )


ORACLE_QUANTILES_BY_KEY = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90
FROM orders GROUP BY o_orderpriority
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-n stratified sampling (pair.sample_exact_by_key,
    PairSCollectionFunctions.scala:1082) — corpus balancing: exactly
    min(7, stratum size) docs per source, uniform under the seeded-hash
    ranked window. The sampled membership is seed-dependent, so the oracle
    pins the CONTRACT: per-source output counts."""
    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").key_by("source")
    return (
        d.sample_exact_by_key(7)
        .df.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT source, LEAST(7, COUNT(*)) AS n_sampled
FROM documents GROUP BY source
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (functions/privacy.py — the quasi-identifier
    guard completing the scrub_pii privacy tier): events bucketed into
    (user_id % 400, event_type) combinations, audited at k=5. One
    partial-agg'd groupBy; the report row is fully SQL-replayable."""
    from scio_spark.functions.privacy import k_anonymity_report

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df.select(
        (F.col("user_id") % 400).alias("ub"), "event_type"
    )
    return k_anonymity_report(ev, ["ub", "event_type"], k=5)


ORACLE_K_ANONYMITY = """
WITH g AS (
  SELECT user_id % 400 AS ub, event_type, COUNT(*) AS gsize
  FROM events GROUP BY 1, 2
)
SELECT CAST(SUM(gsize) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       CAST(MIN(gsize) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN gsize < 5 THEN gsize ELSE 0 END) AS BIGINT)
         AS n_rows_below_k,
       CAST(SUM(CASE WHEN gsize < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_groups_below_k,
       MIN(gsize) >= 5 AS is_k_anonymous
FROM g
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample of exactly n (SCollection.scala:926;
    collection.py sample_weighted) in its row-stable mode: A-Res
    priorities u^(1/w) with u from a seeded md5 of the order key —
    deterministic under any partitioning and SQL-replayable (boundary
    gap at rank 200 is ~1e-9, six orders above cross-libm pow error).
    200 orders sampled proportional to o_totalprice; per-status counts +
    key/price checksums. Plan: TakeOrderedAndProject — per-partition
    heaps, no global sort."""
    sc = _ctx(spark)
    sampled = (
        _t(sc, sf_dir, "orders")
        .sample_weighted(200, "o_totalprice", seed=42, id_col="o_orderkey")
        .df
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH pr AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         POWER((CAST(('0x' || substr(md5('42' || '|' ||
                     CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
                + 0.5) / 281474976710656.0,
               1.0 / CAST(o_totalprice AS DOUBLE)) AS p
  FROM orders
),
sel AS (SELECT * FROM pr ORDER BY p DESC LIMIT 200)
SELECT o_orderstatus, COUNT(*) AS n_sampled,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM sel GROUP BY o_orderstatus
"""


def q_quantiles_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantile sketch end-to-end (reference shape:
    scio's quantilesApprox / Algebird QTree monoid, SCollection.scala:834,
    as a storable+mergeable artifact — the sumHll pattern of
    scio-extra/.../hll/zetasketch; functions/tdigest.py). Pipeline: exact
    (value,count) histogram of l_quantity (one partial-agg'd shuffle) →
    per-partition WEIGHTED partial digests → driver merge → serialization
    round-trip (to_bytes/from_bytes pins the artifact codec) → quantile
    reads. Oracle-exactness argument: 50 distinct values each holding
    ≥1.8% mass, so under the k1 scale function (k-span ≤ 1 merges only
    below ~1.57% combined mass at delta=200) NO two distinct centroids
    ever merge — the digest is a lossless weighted histogram and its
    half-weight interpolation replays bit-exactly in SQL (same IEEE
    double operation order). At 100 TB only |partitions| ~3 KB sketch
    rows cross to the driver."""
    from scio_spark.functions.tdigest import TDigest, tdigest_sketch

    sc = _ctx(spark)
    hist = (
        _t(sc, sf_dir, "lineitem")
        .df.groupBy(F.col("l_quantity").cast("double").alias("v"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    td = tdigest_sketch(hist, "v", delta=200, weight_col="w")
    td = TDigest.from_bytes(td.to_bytes())  # pin the artifact codec
    row = tuple(
        [int(td.count)]
        + [td.quantile(q) for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)]
    )
    return spark.createDataFrame(
        [row],
        "n long, p10 double, p25 double, p50 double, "
        "p75 double, p90 double, p99 double",
    )


ORACLE_QUANTILES_TDIGEST = """
WITH hist AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v, CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(w) AS n FROM hist),
cen AS (
  SELECT v, w,
         COALESCE(SUM(w) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + w / 2
           AS c
  FROM hist
),
cen2 AS (
  SELECT v, c,
         COALESCE(LAG(v) OVER (ORDER BY v), MIN(v) OVER ()) AS lo_x,
         COALESCE(LAG(c) OVER (ORDER BY v), 0) AS lo_c
  FROM cen
),
qs AS (
  SELECT * FROM (VALUES (10, 1e-1), (25, 2.5e-1), (50, 5e-1),
                        (75, 7.5e-1), (90, 9e-1), (99, 9.9e-1)) AS t(p, q)
),
hit AS (
  SELECT qs.p,
         lo_x + (qs.q * tot.n - lo_c) / (c - lo_c) * (v - lo_x) AS est,
         ROW_NUMBER() OVER (PARTITION BY qs.p ORDER BY v) AS rn
  FROM qs CROSS JOIN tot CROSS JOIN cen2
  WHERE qs.q * tot.n < c
)
SELECT CAST(tot.n AS BIGINT) AS n,
       MAX(CASE WHEN p = 10 THEN est END) AS p10,
       MAX(CASE WHEN p = 25 THEN est END) AS p25,
       MAX(CASE WHEN p = 50 THEN est END) AS p50,
       MAX(CASE WHEN p = 75 THEN est END) AS p75,
       MAX(CASE WHEN p = 90 THEN est END) AS p90,
       MAX(CASE WHEN p = 99 THEN est END) AS p99
FROM hit CROSS JOIN tot WHERE rn = 1 GROUP BY tot.n
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase (functions/journeys.py
    funnel_counts): per-user earliest strictly-increasing completion times
    via k-1 keyed joins against the shrinking per-user stage table (never
    a ts-self-join of the log), then one stack() report row per stage."""
    from scio_spark.functions.journeys import funnel_counts

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    return funnel_counts(ev, steps)


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT 'view' AS step, CAST(1 AS INT) AS step_index,
       CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT 'click', CAST(2 AS INT), CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 'purchase', CAST(3 AS INT), CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (functions/journeys.py cohort_retention):
    cohort = epoch-week of each user's first event, offset = activity week
    − cohort week, n_users = distinct actives. Integer epoch-grid buckets
    (no calendar truncation) — exact and engine-portable; two partial-agg'd
    keyed aggregations."""
    from scio_spark.functions.journeys import cohort_retention

    sc = _ctx(spark)
    return cohort_retention(_t(sc, sf_dir, "events").df)


ORACLE_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1),
a AS (
  SELECT e.user_id,
         CAST(FLOOR(epoch(f.first_ts) / 604800) AS BIGINT) AS cohort_period,
         CAST(FLOOR(epoch(e.ts) / 604800)
              - FLOOR(epoch(f.first_ts) / 604800) AS BIGINT) AS period_offset
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT cohort_period, period_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM a
GROUP BY 1, 2
"""


def q_data_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (functions/checks.py run_checks): TPC-H lineitem
    validity rules — quantity/discount/tax ranges, shipdate present — in
    ONE conditional-sum aggregate pass, plus (orderkey, linenumber)
    uniqueness via one partial-agg'd groupBy. NULL predicate = violation
    (a rule you cannot evaluate is not satisfied)."""
    from scio_spark.functions.checks import run_checks

    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").df
    return run_checks(
        li,
        row_rules={
            "qty_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "discount_range": (F.col("l_discount") >= 0)
            & (F.col("l_discount") <= 0.1),
            "tax_nonneg": F.col("l_tax") >= 0,
            "shipdate_present": F.col("l_shipdate").isNotNull(),
        },
        unique_keys=[["l_orderkey", "l_linenumber"]],
    )


ORACLE_DATA_CHECKS = """
WITH r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN COALESCE(l_quantity >= 1 AND l_quantity <= 50,
                                     FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v_qty,
         CAST(SUM(CASE WHEN COALESCE(l_discount >= 0 AND l_discount <= 1e-1,
                                     FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS v_disc,
         CAST(SUM(CASE WHEN COALESCE(l_tax >= 0, FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v_tax,
         CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
              AS BIGINT) AS v_ship
  FROM lineitem),
u AS (
  SELECT CAST(SUM(c - 1) AS BIGINT) AS v, CAST(SUM(c) AS BIGINT) AS n
  FROM (SELECT COUNT(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber))
SELECT 'qty_range' AS check, 'row_rule' AS kind, v_qty AS n_violations,
       n AS n_rows, v_qty = 0 AS passed FROM r
UNION ALL
SELECT 'discount_range', 'row_rule', v_disc, n, v_disc = 0 FROM r
UNION ALL
SELECT 'tax_nonneg', 'row_rule', v_tax, n, v_tax = 0 FROM r
UNION ALL
SELECT 'shipdate_present', 'row_rule', v_ship, n, v_ship = 0 FROM r
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)', 'uniqueness', v, n, v = 0 FROM u
"""


def q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job metrics via observations (metrics.py Metrics — the ScioResult
    counter/distribution surface on df.observe): counters and a
    distribution evaluated DURING the job's own action (no extra pass),
    fetched after completion and returned as the metrics report table.
    Distribution mean stays exact here because the observed sum/count are
    integers (the report carries sum+count; mean = sum/count in both
    engines)."""
    from scio_spark.metrics import Metrics

    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").df
    m = Metrics()
    d = m.count(li, "n_rows")
    d = m.count(d, "high_qty", F.col("l_quantity") > 40)
    d = m.distribution(d, "linenumber", F.col("l_linenumber"))
    d.select("l_orderkey").write.mode("overwrite").parquet(
        _rt_path(sf_dir, "metrics_sink")
    )
    dist = m.get("linenumber")
    rows = [
        ("n_rows", int(m.get("n_rows"))),
        ("high_qty", int(m.get("high_qty"))),
        ("linenumber_min", int(dist["min"])),
        ("linenumber_max", int(dist["max"])),
        ("linenumber_count", int(dist["count"])),
        ("linenumber_sum", int(dist["sum"])),
    ]
    return spark.createDataFrame(rows, "metric string, value long")


ORACLE_METRICS = """
SELECT 'n_rows' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM lineitem
UNION ALL
SELECT 'high_qty', CAST(SUM(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END)
                        AS BIGINT) FROM lineitem
UNION ALL
SELECT 'linenumber_min', CAST(MIN(l_linenumber) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'linenumber_max', CAST(MAX(l_linenumber) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'linenumber_count', CAST(COUNT(l_linenumber) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'linenumber_sum', CAST(SUM(l_linenumber) AS BIGINT) FROM lineitem
"""
