"""Keyed and element-wise contract queries: the SCollection /
PairSCollection aggregations, set operations, maps, side outputs and
resource/parallelism variants, and the TPC-H keyed-aggregate queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 family: filter → keyed multi-agg (SCollection.aggregate_by_key,
    SURVEY §2.2). Exercises: filter, key_by, agg_by_key with partial agg."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem")
    out = (
        li.filter("l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'")
        .key_by("l_returnflag", "l_linestatus")
        .agg_by_key(
            F.sum("l_quantity").alias("sum_qty"),
            # Money sums are EXACT decimal arithmetic (each 2-decimal
            # factor round-trips double->decimal identically on every
            # engine), then convert decimal->STRING->DOUBLE for output:
            # the driver gate cannot hash decimal columns (r6/r7 lesson,
            # pinned in test_contract_schema), and DuckDB's direct
            # wide-decimal->double cast double-rounds above 2^53 (a
            # last-ulp sf1 hash mismatch) — string parsing is correctly
            # rounded on both engines, so the doubles agree bit-exactly.
            F.expr(
                "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))"
                " AS STRING) AS DOUBLE)"
            ).alias("sum_base_price"),
            F.expr(
                "CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * CAST(1 - l_discount AS DECIMAL(8,2)) AS DECIMAL(18,4)))"
                " AS STRING) AS DOUBLE)"
            ).alias("sum_disc_price"),
            F.expr(
                "CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
                " * CAST(1 - l_discount AS DECIMAL(8,2))"
                " * CAST(1 + l_tax AS DECIMAL(8,2)) AS DECIMAL(18,6)))"
                " AS STRING) AS DOUBLE)"
            ).alias("sum_charge"),
            F.expr("SUM(l_quantity) / COUNT(*)").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out.df


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) * CAST(1 + l_tax AS DECIMAL(8,2)) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 family via MultiJoin (util/MultiJoin.scala analog): 3-way
    equi-join chain + keyed agg + global top-k with total order."""
    sc = _ctx(spark)
    cust = (
        _t(sc, sf_dir, "customer")
        .filter("c_mktsegment = 'BUILDING'")
        .key_by(custkey="c_custkey")
    )
    orders = _t(sc, sf_dir, "orders").key_by(custkey="o_custkey")
    co = cust.join(orders, "inner")
    li = _t(sc, sf_dir, "lineitem").key_by(orderkey="l_orderkey")
    col = co.to_scollection().key_by(orderkey="o_orderkey").join(li, "inner")
    out = (
        col.to_scollection()
        .key_by("orderkey")
        .agg_by_key(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
            ).alias("revenue"),
        )
        .to_scollection()
    )
    return out.df.orderBy(F.desc("revenue"), F.asc("orderkey")).limit(10)


ORACLE_TOP_ORDERS = """
SELECT o_orderkey AS orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


def q_count_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countByKey (PairSCollectionFunctions.scala:708)."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "orders")
        .key_by("o_orderpriority")
        .count_by_key()
        .df
    )


ORACLE_COUNT_BY_KEY = """
SELECT o_orderpriority, COUNT(*) AS count FROM orders GROUP BY o_orderpriority
"""


def q_count_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countByValue (SCollection.scala:606)."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "lineitem")
        .map("l_returnflag", "l_linestatus")
        .count_by_value()
        .df
    )


ORACLE_COUNT_BY_VALUE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS count
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topByKey (PairSCollectionFunctions.scala:1138): top-3 orders per
    customer, ranked window with total order."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "orders")
        .key_by("o_custkey")
        .top_by_key(3, F.struct(F.col("o_totalprice"), F.col("o_orderkey")))
        .df.select("o_custkey", "o_orderkey", "o_totalprice")
    )


ORACLE_TOP_BY_KEY = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct (SCollection.scala:615)."""
    sc = _ctx(spark)
    return _t(sc, sf_dir, "lineitem").map("l_returnflag", "l_linestatus").distinct().df


ORACLE_DISTINCT = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_sum_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumByKey + countByKey fused (PairSCollectionFunctions.scala:1048)."""
    sc = _ctx(spark)
    return (
        _t(sc, sf_dir, "lineitem")
        .key_by("l_partkey")
        .agg_by_key(
            F.sum("l_quantity").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .df
    )


ORACLE_SUM_BY_KEY = """
SELECT l_partkey, SUM(l_quantity) AS total_qty, COUNT(*) AS n_items
FROM lineitem GROUP BY l_partkey
"""


def q_subtract_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subtractByKey (PairSCollectionFunctions.scala:1115) → left_anti."""
    sc = _ctx(spark)
    cust = _t(sc, sf_dir, "customer").key_by(custkey="c_custkey")
    big = (
        _t(sc, sf_dir, "orders")
        .filter("o_totalprice > 400000")
        .key_by(custkey="o_custkey")
    )
    return cust.subtract_by_key(big).df.select("custkey", "c_name")


ORACLE_SUBTRACT_BY_KEY = """
SELECT c_custkey AS custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def q_intersect_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectByKey (PairSCollectionFunctions.scala:897) → left_semi."""
    sc = _ctx(spark)
    cust = _t(sc, sf_dir, "customer").key_by(custkey="c_custkey")
    big = (
        _t(sc, sf_dir, "orders")
        .filter("o_totalprice > 400000")
        .key_by(custkey="o_custkey")
    )
    return cust.intersect_by_key(big).df.select("custkey", "c_name", "c_mktsegment")


ORACLE_INTERSECT_BY_KEY = """
SELECT c_custkey AS custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """latestByKey (PairSCollectionFunctions.scala:1040) → max_by on event
    time ((user_id, ts) is unique in the fixture, so deterministic)."""
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events")
    return (
        ev.key_by("user_id")
        .agg_by_key(
            F.expr("MAX_BY(event_type, ts)").alias("last_event_type"),
            F.max("ts").alias("last_ts"),
        )
        .df
    )


ORACLE_LATEST_BY_KEY = """
SELECT user_id,
       ARG_MAX(event_type, ts) AS last_event_type,
       MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def q_union_distinct_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union (SCollection.scala:300) + distinctBy (:628): one representative
    account row per nationkey across customers and suppliers, deterministic
    representative via min acctbal/key ordering."""
    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer").map(nationkey="c_nationkey", acctbal="c_acctbal")
    s = _t(sc, sf_dir, "supplier").map(nationkey="s_nationkey", acctbal="s_acctbal")
    u = c.union(s)
    return (
        u.key_by("nationkey")
        .agg_by_key(F.min("acctbal").alias("min_acctbal"), F.count(F.lit(1)).alias("n"))
        .df
    )


ORACLE_UNION = """
WITH u AS (
  SELECT c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT s_nationkey, s_acctbal FROM supplier
)
SELECT nationkey, MIN(acctbal) AS min_acctbal, COUNT(*) AS n FROM u GROUP BY nationkey
"""


def q_flat_map_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatMap (SCollection.scala:657) = explode: tokenize documents, top 20
    tokens with total order."""
    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents")
    return (
        d.flat_map(F.split(F.col("text"), " "), alias="token")
        .map("token")
        .count_by_value()
        .df.orderBy(F.desc("count"), F.asc("token"))
        .limit(20)
    )


ORACLE_FLAT_MAP = """
SELECT token, COUNT(*) AS count
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY count DESC, token ASC LIMIT 20
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: JSON props column → typed field, keyed
    agg (events.props is a JSON object)."""
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
            # BIGINT both sides: DuckDB SUM(INT) yields HUGEINT (int128),
            # which hash-mismatches Spark's BIGINT in the driver's
            # type-tagged value hash (CORRECTNESS_r01 json_extract).
            F.sum("k").cast("long").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_JSON_EXTRACT = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


def q_sorted_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort within key groups (sortValues): first-3 order dates per
    customer in date order, emitted flat for hashing."""
    sc = _ctx(spark)
    g = (
        _t(sc, sf_dir, "orders")
        .map("o_custkey", "o_orderdate", "o_orderkey")
        .key_by("o_custkey")
        .grouped_sorted_values("o_orderdate", "o_orderkey")
    )
    first3 = g.df.select(
        "o_custkey", F.posexplode(F.slice("values", 1, 3)).alias("pos", "v")
    )
    return first3.select(
        "o_custkey",
        (F.col("pos") + 1).alias("rnk"),
        F.col("v.o_orderdate").alias("o_orderdate"),
        F.col("v.o_orderkey").alias("o_orderkey"),
    )


ORACLE_SORTED_GROUPS = """
SELECT o_custkey, rnk, o_orderdate, o_orderkey FROM (
  SELECT o_custkey, o_orderdate, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withHotKeyFanout analog (salted_agg_by_key): two-level salted
    aggregation must equal the plain aggregation (oracle)."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem")
    return (
        li.key_by("l_returnflag")
        .salted_agg_by_key(
            16,
            partial={"s": "SUM(l_quantity)", "c": "COUNT(*)"},
            final={"total_qty": "SUM(s)", "n": "SUM(c)"},
        )
        .df
    )


ORACLE_SALTED_AGG = """
SELECT l_returnflag, SUM(l_quantity) AS total_qty, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_global_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top(n) (SCollection.scala:985) — TakeOrderedAndProject plan (per-
    partition heap + driver merge, Beam Top.of analog); total order via
    orderkey tiebreak."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders")
    return o.top(
        10, F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    ).df.select("o_orderkey", "o_custkey", "o_totalprice")


ORACLE_GLOBAL_TOP = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10
"""


def q_distinct_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-key distinct count (countDistinct — the exact sibling of
    countApproxDistinctByKey, which is HLL and deliberately NOT oracled)."""
    sc = _ctx(spark)
    ev = _t(sc, sf_dir, "events").df
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_BY_KEY = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 family: HAVING-filtered aggregation (orders whose total
    quantity exceeds a threshold) semi-joined back to customers — exercises
    filter-on-aggregate + a two-level join pipeline."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem")
    big_orders = (
        li.key_by(orderkey="l_orderkey")
        .agg_by_key(F.sum("l_quantity").alias("total_qty"))
        .filter_values("total_qty > 250")
    )
    orders = _t(sc, sf_dir, "orders").key_by(orderkey="o_orderkey")
    cust = _t(sc, sf_dir, "customer").key_by(custkey="c_custkey")
    oj = orders.join(big_orders, "inner")
    out = oj.to_scollection().key_by(custkey="o_custkey").join(cust, "inner")
    return out.df.select(
        "custkey",
        F.col("c_name").alias("c_name"),
        "orderkey",
        F.col("o_totalprice").alias("o_totalprice"),
        "total_qty",
    )


ORACLE_LARGE_ORDERS = """
SELECT c_custkey AS custkey, c_name, o_orderkey AS orderkey, o_totalprice,
       big.total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_pipe_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipe (SCollectionPipeSyntax.scala:45): documents' text through an
    identity subprocess (`cat`) — per-partition process lifecycle, output
    lines re-collected; identity makes it oracle-checkable."""
    from scio_spark.operators.enrich import pipe

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").map(value="text")
    return pipe(d.df, "cat")


ORACLE_PIPE = "SELECT text AS value FROM documents"


def q_mean_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meanByKey (PairSCollectionFunctions.scala:1062). l_quantity values are
    integral doubles (< 2^53), so the double sum inside avg is exact and the
    division deterministic in both engines."""
    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").map("l_returnflag", "l_quantity").key_by("l_returnflag")
    return li.mean_by_key("l_quantity").df


ORACLE_MEAN_BY_KEY = """
SELECT l_returnflag, SUM(l_quantity) / COUNT(*) AS mean
FROM lineitem GROUP BY l_returnflag
"""


def q_reduce_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduceByKey (PairSCollectionFunctions.scala:1073) with an associative
    max reduce."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").map("o_custkey", "o_totalprice").key_by("o_custkey")
    return o.reduce_by_key(max_price="MAX(o_totalprice)").df


ORACLE_REDUCE_BY_KEY = """
SELECT o_custkey, MAX(o_totalprice) AS max_price FROM orders GROUP BY o_custkey
"""


def q_fold_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fold(zero)(op) (SCollection.scala:674): global fold with an explicit
    non-identity zero over an associative+commutative merge (BIGINT sum, so
    collect_list order cannot matter)."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").map(value="o_orderkey")
    return o.fold(7, "acc + x").df


ORACLE_FOLD_GLOBAL = """
SELECT 7 + CAST(SUM(o_orderkey) AS BIGINT) AS folded FROM orders
"""


def q_group_map_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupMapReduce (SCollection.scala:738): per-nation max account
    balance via the reduce-expression path."""
    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer").map("c_nationkey", "c_acctbal").key_by("c_nationkey")
    return c.group_map_reduce("MAX(c_acctbal)").df


ORACLE_GROUP_MAP_REDUCE = """
SELECT c_nationkey, MAX(c_acctbal) AS reduced FROM customer GROUP BY c_nationkey
"""


def q_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersection (SCollection.scala:322, dedups like scio :318-320):
    brands that appear both on large parts and in SM BOX containers."""
    sc = _ctx(spark)
    a = _t(sc, sf_dir, "part").filter("p_size > 25").map(brand="p_brand")
    b = _t(sc, sf_dir, "part").filter("p_size < 5").map(brand="p_brand")
    return a.intersection(b).df


ORACLE_INTERSECTION = """
SELECT p_brand AS brand FROM part WHERE p_size > 25
INTERSECT
SELECT p_brand AS brand FROM part WHERE p_size < 5
"""


def q_subtract_els(spark: SparkSession, sf_dir: str) -> DataFrame:
    """subtract (SCollection.scala:967, anti-join semantics): high-balance
    customers who placed no big order."""
    sc = _ctx(spark)
    rich = (
        _t(sc, sf_dir, "customer")
        .filter("c_acctbal > 9000")
        .map(custkey="c_custkey")
        .distinct()
    )
    big = (
        _t(sc, sf_dir, "orders")
        .filter("o_totalprice > 300000")
        .map(custkey="o_custkey")
    )
    return rich.subtract(big).df


ORACLE_SUBTRACT_ELS = """
SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
"""


def q_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partition(pred) (SCollection.scala:366): one cached scan, two
    branches, materialized as per-branch counts."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").map("o_orderkey", "o_totalprice")
    hi, lo = o.partition_by_pred("o_totalprice > 200000")
    spark_df = hi.agg(F.count(F.lit(1)).alias("n")).df.withColumn(
        "side", F.lit("pass")
    ).unionByName(
        lo.agg(F.count(F.lit(1)).alias("n")).df.withColumn("side", F.lit("fail"))
    )
    return spark_df.select("side", "n")


ORACLE_PARTITION_COUNTS = """
SELECT 'pass' AS side, COUNT(*) AS n FROM orders WHERE o_totalprice > 200000
UNION ALL
SELECT 'fail' AS side, COUNT(*) AS n FROM orders WHERE NOT (o_totalprice > 200000)
"""


def q_batch_by_key_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """batchByKey (PairSCollectionFunctions.scala:816) — batch membership is
    order-dependent, but the number of ≤100-element batches per key is not."""
    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").map("o_custkey", "o_orderkey").key_by("o_custkey")
    batched = o.batch_by_key(100)
    return (
        batched.df.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_batches"))
    )


ORACLE_BATCH_BY_KEY = """
SELECT o_custkey, CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_batches
FROM orders GROUP BY o_custkey
"""


def q_safe_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safeFlatMap error channel (SCollectionSafeSyntax.scala:46): a fn that
    fails on short docs — ok rows carry the token count, failures divert to
    the error side; the ok channel is oracle-checkable."""
    from scio_spark.operators.enrich import safe_map_partitions

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").map("doc_id", "text")

    def tokens_or_fail(rec):
        toks = rec["text"].split(" ")
        if len(toks) < 5:
            raise ValueError("too short")
        return {"doc_id": rec["doc_id"], "n_tokens": len(toks)}

    ok, _errors = safe_map_partitions(d.df, tokens_or_fail, "doc_id long, n_tokens long")
    return ok


ORACLE_SAFE_MAP = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
WHERE len(string_split(text, ' ')) >= 5
"""


def q_group_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByKey (PairSCollectionFunctions.scala:790) — values into an
    array per key, sorted (collect_list order is partition-dependent) and
    joined to one scalar string: the driver's pandas canonicalizer cannot
    hash list cells (r6 red row), so the grouped array is projected to
    '|'-joined text in BOTH engines."""
    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").key_by("n_regionkey")
    grouped = sc.custom_input(
        "nation_names", n.df.select("n_regionkey", "n_name")
    ).key_by("n_regionkey").group_by_key()
    return grouped.df.select(
        "n_regionkey",
        F.array_join(F.array_sort("values"), "|").alias("names"),
    )


ORACLE_GROUP_BY_KEY = """
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), '|') AS names
FROM nation GROUP BY n_regionkey
"""


def q_combine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combine / combineByKey generic fallback (SCollection.scala:540 →
    pair.combine_by_key_pandas): per-key Arrow-batched pandas group map.
    Combiner computes order-insensitive exact stats (count + max)."""
    import pandas as pd

    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").key_by("o_orderpriority")

    def combiner(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "n_orders": [len(pdf)],
                "max_price": [float(pdf["o_totalprice"].max())],
            }
        )

    return o.combine_by_key_pandas(
        combiner, "o_orderpriority string, n_orders long, max_price double"
    ).df


ORACLE_COMBINE_PANDAS = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderpriority
"""


def q_keyed_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapValues/mapKeys/flatMapValues/filterValues/swap family
    (PairSCollectionFunctions.scala:743-1152) composed in one pipeline:
    nation keyed by name → mapKeys(lower) → flatMapValues(2 copies) →
    filterValues → mapValues(region offset) → swap, counted per new key."""
    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").key_by("n_name")
    out = (
        n.map_keys(kname="lower(n_name)")
        .flat_map_values(F.expr("array(n_regionkey, n_regionkey + 10)"), "rk")
        .filter_values("rk < 13")
        .map_values(rk2="rk * 2")
        .swap()
    )
    return out.df.groupBy("rk2").agg(F.count(F.lit(1)).alias("n"))


ORACLE_KEYED_VARIANTS = """
WITH fl AS (
  SELECT lower(n_name) AS kname, u.rk
  FROM nation, UNNEST([n_regionkey, n_regionkey + 10]) AS u(rk)
)
SELECT rk * 2 AS rk2, COUNT(*) AS n FROM fl WHERE rk < 13 GROUP BY 1
"""


def q_map_with_resource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapWithResource (SCollectionWithResourceSyntax.scala:37-64): a
    per-task resource (here a deterministic code table) applied to Arrow
    batches; rows map through the resource exactly once."""
    from scio_spark.operators.enrich import map_with_resource

    sc = _ctx(spark)
    r = _t(sc, sf_dir, "region").df.select("r_regionkey", "r_name")

    def make_table():
        return {i: f"zone_{i % 3}" for i in range(64)}

    def apply(table, pdf):
        pdf = pdf.copy()
        pdf["zone"] = [table[int(k)] for k in pdf["r_regionkey"]]
        return pdf[["r_regionkey", "r_name", "zone"]]

    return map_with_resource(
        r, make_table, apply, "r_regionkey long, r_name string, zone string"
    )


ORACLE_MAP_WITH_RESOURCE = """
SELECT r_regionkey, r_name,
       'zone_' || CAST(r_regionkey % 3 AS VARCHAR) AS zone
FROM region
"""


def q_hash_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashFilter (SCollection hashFilter — the set-membership sibling of
    PairHashSCollectionFunctions.scala:183-226): keep customers whose
    nation appears in a broadcast-small side set (nations of regions 1-2),
    then count + decimal-staged balance sum per kept nation. The plan is a
    BroadcastHashJoin LeftSemi — no shuffle of the big side."""
    sc = _ctx(spark)
    c = _t(sc, sf_dir, "customer")
    side = sc.custom_input(
        "filter_nations",
        _t(sc, sf_dir, "nation")
        .df.filter("n_regionkey IN (1, 2)")
        .select(F.col("n_nationkey").alias("c_nationkey")),
    )
    return (
        c.hash_filter(side, on="c_nationkey")
        .df.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_bal"),
        )
    )


ORACLE_HASH_FILTER = """
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
FROM customer
WHERE c_nationkey IN
      (SELECT n_nationkey FROM nation WHERE n_regionkey IN (1, 2))
GROUP BY c_nationkey
"""


def q_map_with_parallelism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapWithParallelism (SCollectionParallelismSyntax.scala:43-71,
    util/ParallelLimitedFn.scala): Arrow batches through a bounded
    per-task thread pool (4 workers) — the blocking-I/O concurrency cap.
    The fn is a deterministic enrich so the oracle replays in SQL."""
    from scio_spark.operators.enrich import map_with_parallelism

    sc = _ctx(spark)
    s = _t(sc, sf_dir, "supplier").df.select(
        "s_suppkey", "s_name", "s_nationkey"
    )

    def enrich(pdf):
        pdf = pdf.copy()
        pdf["tag"] = (
            pdf["s_name"].str.upper() + "#" + pdf["s_nationkey"].astype(str)
        )
        return pdf[["s_suppkey", "tag"]]

    return map_with_parallelism(
        s, enrich, "s_suppkey long, tag string", max_parallelism=4
    )


ORACLE_MAP_WITH_PARALLELISM = """
SELECT s_suppkey,
       upper(s_name) || '#' || CAST(s_nationkey AS VARCHAR) AS tag
FROM supplier
"""


def q_aggregate_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateByKey with an Algebird-style MonoidAggregator
    (SCollection.scala:416-440, PairSCollectionFunctions.scala:575-605 →
    functions/aggregators.py): a genuinely opaque Python monoid —
    set-union of market segments per nation — prepared/merged per Arrow
    key group, presented as a sorted '|'-joined scalar."""
    from scio_spark.functions.aggregators import (
        Aggregator,
        aggregate_by_key_pandas,
    )

    sc = _ctx(spark)
    c = (
        _t(sc, sf_dir, "customer")
        .map("c_nationkey", "c_mktsegment")
        .key_by("c_nationkey")
    )
    agg = Aggregator(
        prepare=lambda r: {r["c_mktsegment"]},
        merge=lambda a, b: a | b,
        present=lambda acc: {"segments": "|".join(sorted(acc))},
        zero=set(),
    )
    return aggregate_by_key_pandas(c, agg, "c_nationkey int, segments string")


ORACLE_AGGREGATE_BY_KEY = """
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments
FROM customer GROUP BY c_nationkey
"""


def q_aggregate_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate(Aggregator) (SCollection.scala:416 →
    aggregators.aggregate_rdd): treeAggregate with map-side partial
    combining of a Python monoid — max by (length, name), a total order
    so the result is unique. The scalar result is re-wrapped as a 1-row
    DataFrame for the gate."""
    from scio_spark.functions.aggregators import Aggregator, aggregate_rdd

    sc = _ctx(spark)
    n = _t(sc, sf_dir, "nation").df.select("n_name")
    agg = Aggregator(
        prepare=lambda r: (len(r["n_name"]), r["n_name"]),
        merge=max,
        present=lambda acc: {"longest": acc[1], "name_len": acc[0]},
        zero=None,
    )
    out = aggregate_rdd(n, agg)
    return spark.createDataFrame(
        [(out["longest"], out["name_len"])], "longest string, name_len long"
    )


ORACLE_AGGREGATE_GLOBAL = """
SELECT n_name AS longest, length(n_name) AS name_len
FROM nation
ORDER BY length(n_name) DESC, n_name DESC LIMIT 1
"""


def q_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SideOutput / SCollectionWithSideOutput (values/SideOutput.scala:1-89
    → enrich.side_outputs): ONE cached pass over orders fanned into three
    tagged outputs by priority class (SURVEY §4.4.3's documented
    one-cached-scan cost for Beam's multi-output ParDo); per-tag counts
    re-unioned for the gate."""
    from scio_spark.operators.enrich import side_outputs

    sc = _ctx(spark)
    o = _t(sc, sf_dir, "orders").df
    outs = side_outputs(
        o,
        {
            "urgent": "o_orderpriority IN ('1-URGENT', '2-HIGH')",
            "normal": "o_orderpriority = '3-MEDIUM'",
            "low": "o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')",
        },
    )
    parts = [
        outs[tag].agg(
            F.lit(tag).alias("tag"), F.count(F.lit(1)).alias("n_orders")
        )
        for tag in ["urgent", "normal", "low"]
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


ORACLE_SIDE_OUTPUTS = """
SELECT 'urgent' AS tag, COUNT(*) AS n_orders FROM orders
 WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
UNION ALL
SELECT 'normal', COUNT(*) FROM orders WHERE o_orderpriority = '3-MEDIUM'
UNION ALL
SELECT 'low', COUNT(*) FROM orders
 WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
"""


def q_map_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapFile (SCollectionFileDownloadSyntax.scala:43,66 →
    enrich.map_file): a DataFrame of file:// URIs downloaded to
    worker-local temp files per Arrow batch; fn reads each local copy.
    Files are derived deterministically from region names so the oracle
    replays in SQL."""
    import os

    from scio_spark.operators.enrich import map_file

    d = _rt_path(sf_dir, "map_file")
    os.makedirs(d, exist_ok=True)
    sc = _ctx(spark)
    regions = _t(sc, sf_dir, "region").df.select("r_regionkey", "r_name")
    uris = []
    for r in regions.collect():  # 5 rows — driver-sized by construction
        p = os.path.join(d, f"region_{r['r_regionkey']}.txt")
        with open(p, "w") as f:
            f.write(r["r_name"].lower() + "\n")
        uris.append((int(r["r_regionkey"]), "file://" + p))
    files = spark.createDataFrame(uris, "r_regionkey long, uri string")

    def fn(local_path):
        with open(local_path) as f:
            content = f.read().strip()
        return {"content": content, "n_chars": len(content)}

    return map_file(
        files,
        "uri",
        fn,
        "r_regionkey long, content string, n_chars long",
        keep_cols=["r_regionkey"],
    )


ORACLE_MAP_FILE = """
SELECT r_regionkey, lower(r_name) AS content,
       length(r_name) AS n_chars
FROM region
"""


def q_vector_sum_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-semigroup sumByKey (scio-extra Breeze.scala DenseVector
    Semigroup → functions/vectors.sum_vectors_by_key): element-wise
    per-label embedding sums, decimal-staged per component so the float
    addition order cannot change the result. The assembled array is
    re-exploded to scalar rows for the gate (the canonicalizer cannot
    hash array cells)."""
    from scio_spark.functions.vectors import sum_vectors_by_key

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sum_vectors_by_key(emb.select("label", "embedding"), "embedding", ["label"])
    return out.select(
        "label",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.posexplode("vec_sum").alias("pos", "comp"),
    )


ORACLE_VECTOR_SUM = """
WITH comps AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(28,8)) AS v
  FROM embeddings
),
sums AS (
  SELECT label, pos, CAST(SUM(v) AS DOUBLE) AS comp
  FROM comps GROUP BY label, pos
),
n AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
SELECT s.label, n.n_vectors, s.pos, s.comp
FROM sums s JOIN n ON s.label = n.label
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue over the ship log (one-month lineitem slice):
    running sum of discounted price in (shipdate, orderkey, linenumber)
    order. Distributed two-phase scan (operators/scan.py running_agg) —
    range exchange + partition-local window + broadcast of #partition
    prefix offsets; NO single-partition window touches the data. Decimal
    staging makes the two-phase combine bit-exact (associative adds)."""
    from scio_spark.operators.scan import running_agg

    sc = _ctx(spark)
    li = _t(sc, sf_dir, "lineitem").df
    d = li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-03-01")
    ).withColumn(
        "rev",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"),
    )
    out = running_agg(
        d,
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        "rev",
        agg="sum",
        out_col="running_rev",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("running_rev").cast("double").alias("running_rev"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_rev
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1995-03-01'
"""
