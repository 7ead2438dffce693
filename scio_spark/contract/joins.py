"""Join and lookup contract queries: hash, sparse, Bloom, skewed,
sort-merge-bucket, multi-way, as-of, interval and fuzzy joins, cogroups,
side inputs, the distributed cache and key-value store probes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t
from scio_spark.operators import joins as J


def q_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashJoin — broadcast (PairHashSCollectionFunctions.scala:41); no
    shuffle of the big side."""
    sc = _ctx(spark)
    nation = _t(sc, sf_dir, "nation").key_by(regionkey="n_regionkey")
    region = _t(sc, sf_dir, "region").key_by(regionkey="r_regionkey")
    return nation.hash_join(region).df.select("regionkey", "n_name", "r_name")


ORACLE_HASH_JOIN = """
SELECT n_regionkey AS regionkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


def q_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup (PairSCollectionFunctions.scala:116): group sizes per side —
    materialized as counts (arrays hash unstably across engines)."""
    sc = _ctx(spark)
    orders = _t(sc, sf_dir, "orders").map("o_custkey", "o_orderkey").key_by(custkey="o_custkey")
    cust = _t(sc, sf_dir, "customer").map("c_custkey", "c_name").key_by(custkey="c_custkey")
    cg = J.cogroup(cust, orders)
    return cg.df.select(
        "custkey",
        F.size("values_1").alias("n_cust"),
        F.size("values_2").alias("n_orders"),
    )


ORACLE_COGROUP = """
WITH c AS (SELECT c_custkey AS custkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     o AS (SELECT o_custkey AS custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1)
SELECT COALESCE(c.custkey, o.custkey) AS custkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_orders, 0) AS n_orders
FROM c FULL OUTER JOIN o ON c.custkey = o.custkey
"""


def q_cogroup_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiJoin.cogroup (util/MultiJoin.scala:34-530): 3-way cogroup on
    custkey — customers × orders × events — materialized as per-side group
    sizes (arrays hash unstably across engines)."""
    sc = _ctx(spark)
    cust = _t(sc, sf_dir, "customer").map("c_custkey", "c_name").key_by(custkey="c_custkey")
    orders = _t(sc, sf_dir, "orders").map("o_custkey", "o_orderkey").key_by(custkey="o_custkey")
    ev = _t(sc, sf_dir, "events").map("user_id", "event_id").key_by(custkey="user_id")
    cg = J.multi_join([cust, orders, ev], how="cogroup")
    return cg.df.select(
        "custkey",
        F.size("values_1").alias("n_cust"),
        F.size("values_2").alias("n_orders"),
        F.size("values_3").alias("n_events"),
    )


ORACLE_COGROUP_3WAY = """
WITH c AS (SELECT c_custkey AS custkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),
     o AS (SELECT o_custkey AS custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
     e AS (SELECT user_id AS custkey, COUNT(*) AS n_events FROM events GROUP BY 1)
SELECT k.custkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(n_events, 0) AS n_events
FROM (SELECT custkey FROM c UNION SELECT custkey FROM o UNION SELECT custkey FROM e) k
LEFT JOIN c USING (custkey) LEFT JOIN o USING (custkey) LEFT JOIN e USING (custkey)
"""


def q_sparse_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparseJoin (PairSCollectionFunctions.scala:291): RHS keyset ≪ LHS —
    broadcast-keyset semi-join reduction before the shuffle join."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").key_by(partkey="l_partkey")
    rare_parts = (
        _t(sc, sf_dir, "part")
        .filter("p_size = 1")
        .key_by(partkey="p_partkey")
    )
    out = li.sparse_join(rare_parts, how="inner")
    return (
        out.to_scollection()
        .key_by("partkey")
        .agg_by_key(
            F.sum("l_quantity").alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .df
    )


ORACLE_SPARSE_JOIN = """
SELECT l_partkey AS partkey, SUM(l_quantity) AS qty, COUNT(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY l_partkey
"""


def q_sparse_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparseJoin, BLOOM regime (PairSCollectionFunctions.scala:394-437 —
    per-partition Bloom filters sized by rhsNumKeys): rhs_num_keys above
    the exact-keyset threshold forces the functions/bloom.py build+probe
    path (JVM-hashed positions, broadcast bitmap, Arrow probe). The left
    flavor exercises BOTH halves — the Bloom hit-side prefilter (false
    positives surface as null-RHS rows through the left join) and the
    definite-non-member miss passthrough — and the result is exactly a
    plain left join, so the oracle needs no Bloom at all."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").key_by(partkey="l_partkey")
    rare_parts = (
        _t(sc, sf_dir, "part")
        .filter("p_size = 1")
        .key_by(partkey="p_partkey")
    )
    out = li.sparse_join(rare_parts, how="left", rhs_num_keys=5_000_000)
    return (
        out.df.groupBy(F.col("p_partkey").isNotNull().alias("matched"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("qty"),
        )
    )


ORACLE_SPARSE_JOIN_BLOOM = """
SELECT p.p_partkey IS NOT NULL AS matched, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
LEFT JOIN (SELECT p_partkey FROM part WHERE p_size = 1) p
  ON l_partkey = p.p_partkey
GROUP BY 1
"""


def q_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiJoin 3-way (util/MultiJoin.scala:538): revenue per nation."""
    sc = _ctx(spark)
    cust = _t(sc, sf_dir, "customer").map("c_custkey", "c_nationkey").key_by(custkey="c_custkey")
    orders = _t(sc, sf_dir, "orders").map("o_orderkey", custkey="o_custkey").key_by("custkey")
    co = J.multi_join([cust, orders], how="inner")
    n = _t(sc, sf_dir, "nation").key_by(nationkey="n_nationkey")
    con = co.to_scollection().key_by(nationkey="c_nationkey").hash_join(n)
    return (
        con.to_scollection()
        .key_by("n_name")
        .agg_by_key(F.count(F.lit(1)).alias("n_orders"))
        .df
    )


ORACLE_MULTI_JOIN = """
SELECT n_name, COUNT(*) AS n_orders
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_smb_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMB: write orders+customer bucketed/sorted by custkey, then a
    shuffle-free sort-merge join + agg (scio-smb sortMergeJoin analog;
    plan shape verified in tests/test_plans.py)."""
    from scio_spark.operators import smb

    sc = _ctx(spark)
    orders = _t(sc, sf_dir, "orders").df.withColumn("custkey", F.col("o_custkey"))
    cust = _t(sc, sf_dir, "customer").df.withColumn("custkey", F.col("c_custkey"))
    smb.save_sorted_bucket(orders, "smb_orders", "custkey", 8)
    smb.save_sorted_bucket(cust, "smb_customer", "custkey", 8)
    joined = smb.sort_merge_join(spark, "smb_orders", "smb_customer", "custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias(
                "revenue"
            ),
        )
    )


ORACLE_SMB_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_skewed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewedJoin (PairSkewedSCollectionFunctions.scala:186): explicit
    hot/chill split — hot keys broadcast-joined, rest shuffle-joined;
    result must equal a plain join (oracle)."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").map("l_orderkey", "l_quantity", suppkey="l_suppkey").key_by("suppkey")
    sup = _t(sc, sf_dir, "supplier").map("s_name", suppkey="s_suppkey").key_by("suppkey")
    out = li.skewed_join(sup, hot_key_threshold=400)
    return (
        out.to_scollection()
        .key_by("s_name")
        .agg_by_key(
            F.sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("n")
        )
        .df
    )


ORACLE_SKEWED_JOIN = """
SELECT s_name, SUM(l_quantity) AS qty, COUNT(*) AS n
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def q_sparse_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparseLookup (PairSCollectionFunctions.scala:438): join RHS values
    into LHS as arrays after semi-join reduction; materialized as counts."""
    from scio_spark.operators.joins import sparse_lookup

    sc = _ctx(spark)
    cust = (
        _t(sc, sf_dir, "customer")
        .filter("c_acctbal > 9000")
        .map("c_name", custkey="c_custkey")
        .key_by("custkey")
    )
    orders = _t(sc, sf_dir, "orders").map("o_orderkey", custkey="o_custkey").key_by("custkey")
    out = sparse_lookup(cust, orders)
    return out.df.select(
        "custkey", "c_name", F.size("matches").alias("n_orders")
    )


ORACLE_SPARSE_LOOKUP = """
SELECT c_custkey AS custkey, c_name,
       (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
FROM customer WHERE c_acctbal > 9000
"""


def q_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross (SCollection.scala:999): cartesian with broadcast tiny side."""
    sc = _ctx(spark)
    nation = _t(sc, sf_dir, "nation").key_by("n_nationkey")
    region = _t(sc, sf_dir, "region").map("r_name")
    return nation.cross(region).df.select("n_name", "r_name")


ORACLE_CROSS = "SELECT n_name, r_name FROM nation CROSS JOIN region"


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 family: 6-way join (customer⋈orders⋈lineitem⋈supplier⋈nation
    ⋈region) with the local-supplier predicate (c_nationkey = s_nationkey),
    region filter pushed to the scan, dims broadcast."""
    sc = _ctx(spark)
    cust = _t(sc, sf_dir, "customer").df
    orders = _t(sc, sf_dir, "orders").df
    li = _t(sc, sf_dir, "lineitem").df
    sup = _t(sc, sf_dir, "supplier").df
    nat = _t(sc, sf_dir, "nation").df
    reg = _t(sc, sf_dir, "region").df.filter("r_name = 'ASIA'")
    joined = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_LOCAL_SUPPLIER = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py asof_join): each event matched to the
    user's latest order at-or-before the event time — single window pass, one
    shuffle on key. Right side pre-deduped per (key, ts) for determinism."""
    from scio_spark.operators.joins import asof_join

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df.select("event_id", "user_id", "ts")
    orders = (
        _t(sc, sf_dir, "orders")
        .df.groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ots")
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(ev, orders, "user_id", "ts", "ots", ["last_orderkey"])
    return out.select(
        "event_id", "user_id", F.col("matched_ts").alias("last_order_date"), "last_orderkey"
    )


ORACLE_ASOF_JOIN = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate AS ots, MAX(o_orderkey) AS last_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.ots AS last_order_date, r.last_orderkey
FROM events e ASOF JOIN r ON e.user_id = r.user_id AND e.ts >= r.ots
"""


def q_hash_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashLookup (SCollection.scala:1014): matches arrayed per LHS row —
    materialized as match counts (array order is engine-dependent)."""
    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").map("n_nationkey", "n_name").key_by(nationkey="n_nationkey")
    s = _t(sc, sf_dir, "supplier").map("s_nationkey", "s_suppkey").key_by(nationkey="s_nationkey")
    looked = n.hash_lookup(s)
    return looked.df.select(
        "nationkey", "n_name",
        F.size(F.coalesce(F.col("matches"), F.array())).alias("n_suppliers"),
    )


ORACLE_HASH_LOOKUP = """
SELECT n_nationkey AS nationkey, n_name,
       CAST((SELECT COUNT(*) FROM supplier s WHERE s.s_nationkey = n.n_nationkey) AS INT)
         AS n_suppliers
FROM nation n
"""


def q_async_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Async batched lookup (ScalaAsyncBatchLookupDoFn analog) with a pure
    deterministic "service": uppercase the nation name."""
    from scio_spark.operators.enrich import async_lookup

    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").map("n_nationkey", "n_name").df

    async def svc(chunk):
        return [
            {"n_nationkey": r["n_nationkey"], "upper_name": r["n_name"].upper()}
            for r in chunk
        ]

    return async_lookup(n, svc, "n_nationkey long, upper_name string")


ORACLE_ASYNC_LOOKUP = """
SELECT n_nationkey, UPPER(n_name) AS upper_name FROM nation
"""


def q_hash_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashIntersectByKey (PairHashSCollectionFunctions.scala:183 —
    broadcast left_semi): customers whose nation has a high-balance
    supplier, counted per nation."""
    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer").key_by("c_nationkey")
    s = _t(sc, sf_dir, "supplier").df.filter("s_acctbal > 5000")
    rich = sc.custom_input("rich_suppliers", s).key_by(
        c_nationkey="s_nationkey"
    )
    return (
        c.hash_intersect_by_key(rich)
        .df.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_HASH_INTERSECT = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE c_nationkey IN (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000)
GROUP BY c_nationkey
"""


def q_hash_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashSubtractByKey (PairHashSCollectionFunctions.scala:210 —
    broadcast left_anti): customers whose nation has NO high-balance
    supplier, counted per nation."""
    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer").key_by("c_nationkey")
    s = _t(sc, sf_dir, "supplier").df.filter("s_acctbal > 5000")
    rich = sc.custom_input("rich_suppliers", s).key_by(
        c_nationkey="s_nationkey"
    )
    return (
        c.hash_subtract_by_key(rich)
        .df.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_HASH_SUBTRACT = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE c_nationkey NOT IN
      (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000)
GROUP BY c_nationkey
"""


def q_side_input_multimap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asMultiMapSideInput + SCollectionWithSideInput (SideInput.scala:123,
    SCollectionWithSideInput.scala): regions enriched from a broadcast
    key→values multimap of their nations — the side-input form of a
    small-dim join; no shuffle, the multimap rides the broadcast."""
    from scio_spark.operators import enrich as E

    sc = _ctx(spark)
    bc = E.side_input_multimap(
        _t(sc, sf_dir, "nation").df, "n_regionkey", "n_name"
    )
    r = _t(sc, sf_dir, "region").df.select("r_regionkey", "r_name")

    def fn(pdf, side):
        pdf = pdf.copy()
        pdf["nations"] = [
            "|".join(sorted(side.get(int(k), []))) for k in pdf["r_regionkey"]
        ]
        return pdf

    return E.with_side_input(
        r, bc, fn, "r_regionkey long, r_name string, nations string"
    )


ORACLE_SIDE_INPUT_MULTIMAP = """
SELECT r_regionkey, r_name,
       array_to_string(list_sort(list(n_name)), '|') AS nations
FROM region JOIN nation ON n_regionkey = r_regionkey
GROUP BY r_regionkey, r_name
"""


def q_dist_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistCache (values/DistCache.scala:1-100): a driver-written lookup
    file shipped to every worker via SparkContext.addFile; each task opens
    the worker-LOCAL copy (SparkFiles.get) inside the Arrow batch fn —
    no broadcast variable, no shuffle."""
    import os

    from scio_spark.operators.enrich import dist_cache

    sc = _ctx(spark)
    d = _rt_path(sf_dir, "dist_cache")
    os.makedirs(d, exist_ok=True)
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    # per-sf basename: SparkFiles resolves by basename and a session may
    # see several scale factors
    fpath = os.path.join(d, f"grades_{sf}.txt")
    with open(fpath, "w") as f:
        for i in range(32):
            f.write(f"{i}:grade_{i % 2}\n")
    get = dist_cache(spark, fpath)
    n = _t(sc, sf_dir, "nation").df.select("n_nationkey", "n_name")

    def gen(batches):
        with open(get()) as f:
            table = dict(line.strip().split(":") for line in f)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["grade"] = [table[str(int(k))] for k in pdf["n_nationkey"]]
            yield pdf

    return n.mapInPandas(gen, "n_nationkey long, n_name string, grade string")


ORACLE_DIST_CACHE = """
SELECT n_nationkey, n_name,
       'grade_' || CAST(n_nationkey % 2 AS VARCHAR) AS grade
FROM nation
"""


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy join (operators/fuzzy_join.py — Gravano-style
    q-gram count filter + exact levenshtein re-check; the naive BETWEEN
    formulation is a cross product): two disjoint part-name strata joined
    at distance ≤ 6, reported as a distance histogram.

    Runs in the DEDUP-BEFORE-JOIN shape — the scale-correct pattern for
    a fuzzy join over a low-cardinality string column: part names are a
    small closed vocabulary repeated ~n/|vocab| times, so joining raw
    rows makes the PAIR SET itself quadratic in n (every copy of
    'red bolt' pairs with every copy of 'old bolt' — no candidate
    structure can beat the output size). Instead: count per distinct
    name (one linear agg per side), fuzzy-join the distinct names
    (constant-size problem at any sf), and weight the histogram by
    cnt_l*cnt_r. Identical result to the naive pair count (the oracle
    IS the naive cross join), measured e~=0.1 at sf0.1->sf1 vs e~=1.9
    for the raw-pairs spelling (SCALING.md r13)."""
    from scio_spark.operators.fuzzy_join import fuzzy_join

    sc = _ctx(spark)
    part = _t(sc, sf_dir, "part").df
    ldist = (
        part.filter("p_partkey % 20 = 0")
        .groupBy(F.col("p_name").alias("l_text"))
        .agg(F.count(F.lit(1)).alias("__lw"))
        .withColumn("l_id", F.col("l_text"))
    )
    rdist = (
        part.filter("p_partkey % 20 = 10")
        .groupBy(F.col("p_name").alias("r_text"))
        .agg(F.count(F.lit(1)).alias("__rw"))
        .withColumn("r_id", F.col("r_text"))
    )
    pairs = fuzzy_join(
        ldist.select("l_id", "l_text"), rdist.select("r_id", "r_text"),
        max_dist=6,
    )
    return (
        pairs.join(F.broadcast(ldist.select("l_id", "__lw")), "l_id")
        .join(F.broadcast(rdist.select("r_id", "__rw")), "r_id")
        .groupBy("distance")
        .agg(F.sum(F.col("__lw") * F.col("__rw")).alias("n_pairs"))
    )


ORACLE_FUZZY_JOIN = """
SELECT levenshtein(l.p_name, r.p_name) AS distance, COUNT(*) AS n_pairs
FROM (SELECT * FROM part WHERE p_partkey % 20 = 0) l,
     (SELECT * FROM part WHERE p_partkey % 20 = 10) r
WHERE levenshtein(l.p_name, r.p_name) <= 6
GROUP BY 1
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-quantized interval join (operators/range_join.py — the
    range-join-hint pattern from plain operators): clicks joined to
    ±30-minute windows around sampled purchase events BY TIME ALONE, then
    clicks-per-window. A bare BETWEEN join plans as a nested loop
    (asserted in tests); this plans as an equi-join on the bucket key with
    an exact re-check — same result, O(n+m) shuffle. Oracle = the naive
    BETWEEN join in DuckDB."""
    from scio_spark.operators.range_join import interval_join

    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    wins = (
        ev.filter("event_type = 'purchase' AND event_id % 97 = 0")
        .select(
            F.col("event_id").alias("win_id"),
            (F.col("ts") - F.expr("INTERVAL 30 minutes")).alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 30 minutes")).alias("win_end"),
        )
    )
    joined = interval_join(
        clicks, wins, "c_ts", "win_start", "win_end", bucket_width=1800
    )
    return joined.groupBy("win_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.countDistinct("click_id").alias("n_distinct_clicks"),
    )


ORACLE_INTERVAL_JOIN = """
WITH wins AS (
  SELECT event_id AS win_id,
         ts - INTERVAL 30 MINUTE AS win_start,
         ts + INTERVAL 30 MINUTE AS win_end
  FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0
)
SELECT w.win_id, COUNT(*) AS n_clicks,
       COUNT(DISTINCT c.event_id) AS n_distinct_clicks
FROM events c JOIN wins w
  ON c.ts >= w.win_start AND c.ts <= w.win_end
WHERE c.event_type = 'click'
GROUP BY w.win_id
"""


def q_kv_store_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent-KV-store probe join — the Sparkey side-input pattern
    (scio-extra sparkey PairLargeHashSCollectionFunctions.scala:48-255):
    supplier becomes a sharded disk KV artifact (distributed sqlite-shard
    build, joins.build_kv_store), then a lineitem slice probes it via
    DistCache-shipped shards with NO shuffle on the probe side
    (joins.kv_store_join). Aggregated per supplier so the oracle is a plain
    SQL join."""
    import uuid

    from scio_spark.operators.joins import build_kv_store, kv_store_join

    sc = _ctx(spark)
    sup = (
        _t(sc, sf_dir, "supplier")
        .df.select(F.col("s_suppkey").alias("suppkey"), "s_name")
    )
    store = build_kv_store(
        sup, "suppkey", n_shards=4,
        store_dir=_rt_path(sf_dir, f"kv_store_{uuid.uuid4().hex}"),
    )
    probe = (
        _t(sc, sf_dir, "lineitem")
        .df.filter("l_quantity >= 48")
        .select(F.col("l_suppkey").alias("suppkey"), "l_quantity", "l_extendedprice")
    )
    joined = kv_store_join(probe, store, how="inner")
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("qty"),
        F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("revenue"),
    )


ORACLE_KV_STORE_JOIN = """
SELECT s_name, COUNT(*) AS n_items, SUM(l_quantity) AS qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_quantity >= 48
GROUP BY s_name
"""


def q_smb_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortMergeTransform (smb/SortMergeTransform.scala:41-171): read a
    bucketed table, apply a bucketing-preserving transform (filter +
    derived column), rewrite with the SAME bucket spec (picked up from the
    catalog via smb.bucket_count), then aggregate the rewritten table on
    its bucket key — the groupBy needs no exchange (bucketed scan)."""
    from scio_spark.operators import smb

    sc = _ctx(spark)
    orders = _t(sc, sf_dir, "orders").df.withColumn(
        "custkey", F.col("o_custkey")
    )
    smb.save_sorted_bucket(orders, "smbt_in", "custkey", 8)
    smb.sort_merge_transform(
        spark,
        "smbt_in",
        "smbt_out",
        lambda df: df.filter("o_totalprice > 150000").withColumn(
            "o_year", F.year("o_orderdate")
        ),
        "custkey",
    )
    assert smb.bucket_count(spark, "smbt_out") == 8
    return (
        spark.table("smbt_out")
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("revenue"),
        )
    )


ORACLE_SMB_TRANSFORM = """
SELECT EXTRACT(year FROM o_orderdate) AS o_year, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 150000
GROUP BY 1
"""
