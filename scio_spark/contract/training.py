"""Training-data preparation contract queries: mixing, splits, shuffle
positions, length buckets, shard layout, per-source caps and quotas, and
sequence packing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing (functions/training.py mixture_sample):
    three pseudo-sources (doc_id mod 3) retained at 1.0/0.5/0.25 via
    per-source seeded md5 unit hashes; per-source doc counts + token sums."""
    from scio_spark.functions.text import token_count
    from scio_spark.functions.training import mixture_sample

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    mixed = mixture_sample(
        {
            "web": (docs.filter(F.col("doc_id") % 3 == 0), 1.0),
            "books": (docs.filter(F.col("doc_id") % 3 == 1), 0.5),
            "code": (docs.filter(F.col("doc_id") % 3 == 2), 0.25),
        }
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("n_tokens"),
    )


ORACLE_DATA_MIXTURE = """
WITH src AS (
  SELECT doc_id, text,
         CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
                         ELSE 'code' END AS source,
         CASE doc_id % 3 WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.25 END AS frac
  FROM documents),
kept AS (
  SELECT * FROM src
  WHERE ('0x' || substring(md5('42:' || source || ':' ||
                               CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < frac)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM kept GROUP BY source
"""


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split
    (functions/training.py hash_split): md5-derived unit hash per doc_id,
    80/10/10 boundaries — row-stable across runs/repartitions and
    replayable bit-for-bit in DuckDB."""
    from scio_spark.functions.training import hash_split

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    return (
        hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_TRAIN_SPLIT = """
WITH u AS (
  SELECT doc_id,
         ('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
)
SELECT CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n
FROM u GROUP BY 1
"""


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (functions/training.py
    pack_chunks): documents concatenated in doc_id order into one token
    stream split at a 512-token budget; each doc assigned to the chunk
    where it starts (floor(tokens_before/512)). The exclusive prefix sum
    is the distributed scan, so the layout computation holds at corpus
    scale. Returns per-chunk composition stats."""
    from scio_spark.functions.training import pack_chunks

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "text")
    packed = pack_chunks(docs, token_budget=512)
    return packed.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tokens").alias("chunk_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


ORACLE_PACK_CHUNKS = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS tok
  FROM documents),
c AS (
  SELECT doc_id, tok,
         COALESCE(SUM(tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM t)
SELECT CAST(FLOOR(tokens_before / 512) AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS chunk_tokens,
       MIN(doc_id) AS first_doc
FROM c
GROUP BY 1
"""


def q_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training_shuffle permutation materialized as positions
    (functions/training.py shuffle_positions): 1-based rank under the
    seeded engine-portable md5-slice hash order, computed with the
    distributed scan's row_numbers — not a single-partition ROW_NUMBER.
    Verifies both the shuffle's determinism and the scan's count mode."""
    from scio_spark.functions.training import shuffle_positions

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id")
    return shuffle_positions(docs, "doc_id", seed=7).select("doc_id", "pos")


ORACLE_SHUFFLE_POSITIONS = """
SELECT doc_id,
       ROW_NUMBER() OVER (
         ORDER BY CAST(('0x' || substring(md5('7|' || CAST(doc_id AS VARCHAR)),
                                          1, 12)) AS BIGINT),
                  doc_id) AS pos
FROM documents
"""


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency length bucketing (functions/training.py
    length_buckets): NTILE(8) by token-count rank via the distributed
    ntile (scan row_numbers + 1-row scalar count broadcast) — the
    batching-efficiency layout that keeps padding waste flat. Per-bucket
    composition stats; replays as SQL NTILE."""
    from scio_spark.functions.training import length_buckets

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "text")
    out = length_buckets(docs, 8)
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__tokens").alias("min_tokens"),
        F.max("__tokens").alias("max_tokens"),
        F.sum("__tokens").alias("bucket_tokens"),
    )


ORACLE_LENGTH_BUCKETS = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS tok
  FROM documents),
b AS (
  SELECT doc_id, tok,
         NTILE(8) OVER (ORDER BY tok, doc_id) AS bucket
  FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(tok) AS BIGINT) AS min_tokens,
       CAST(MAX(tok) AS BIGINT) AS max_tokens,
       CAST(SUM(tok) AS BIGINT) AS bucket_tokens
FROM b
GROUP BY 1
"""


def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard write + read-back
    (functions/training.py write_training_shards, hash='md5'): shard
    membership is pmod of the engine-portable md5-slice hash, one exchange
    total (the repartition IS the layout), partitionBy(shard) on disk.
    Verifies membership + per-shard composition replay bit-for-bit."""
    from scio_spark.functions.training import write_training_shards

    path = _rt_path(sf_dir, "shards")
    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "n_chars")
    write_training_shards(
        docs, path, n_shards=8, id_col="doc_id", seed=11, hash="md5"
    )
    back = spark.read.parquet(path)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("n_chars").alias("sum_chars"),
    )


ORACLE_SHARD_LAYOUT = """
WITH s AS (
  SELECT doc_id, n_chars,
         CAST(CAST(('0x' || substring(md5('11|' || CAST(doc_id AS VARCHAR)),
                                      1, 12)) AS BIGINT) % 8 AS INT) AS shard
  FROM documents)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s
GROUP BY 1
"""


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-source cap (functions/training.py cap_per_key): at most 40
    docs per source, survivors chosen by seeded portable-hash rank — the
    web-corpus guard against a few hosts swamping the mixture. Row-stable:
    replays as ROW_NUMBER over the md5-slice hash."""
    from scio_spark.functions.training import cap_per_key

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "source", "n_chars")
    capped = cap_per_key(docs, "source", 40, "doc_id", seed=5)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
    )


ORACLE_SOURCE_CAP = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substring(md5('5|' || CAST(doc_id AS VARCHAR)),
                                            1, 12)) AS BIGINT), doc_id) AS rk
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc
FROM r
WHERE rk <= 40
GROUP BY 1
"""


def q_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token quota (functions/training.py token_quota_per_key):
    walk each source's docs in seeded-hash order, keep while the exclusive
    running token sum stays under 2000 — "sample ~N tokens per domain".
    One partitioned window; the first doc of a source always survives."""
    from scio_spark.functions.training import token_quota_per_key

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df.select("doc_id", "source", "text")
    kept = token_quota_per_key(docs, "source", 2000, "doc_id", seed=3)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tokens").alias("sum_tokens"),
    )


ORACLE_TOKEN_QUOTA = """
WITH t AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS tok
  FROM documents),
c AS (
  SELECT doc_id, source, tok,
         COALESCE(SUM(tok) OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substring(md5('3|' || CAST(doc_id AS VARCHAR)),
                                            1, 12)) AS BIGINT), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS taken
  FROM t)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens
FROM c
WHERE taken < 2000
GROUP BY 1
"""


def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (functions/training.py pack_sequences —
    the BatchDoFn/batchWeighted shape: close a pack when the next doc
    would overflow 512 tokens; an oversized doc packs alone). Packing is
    partition-local, so the query pins a deterministic layout
    (1 partition, doc_id order); the oracle replays the EXACT greedy walk
    with a pack-jump recursive CTE over the token cumsum — one recursion
    step per PACK (≈ total_tokens/512), not per doc."""
    from scio_spark.functions.training import pack_sequences

    sc = _ctx(spark)
    docs = (
        _t(sc, sf_dir, "documents").df.select("doc_id", "text")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    packed = pack_sequences(docs, token_budget=512)
    return packed.select(
        F.element_at("doc_ids", 1).alias("first_doc"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").alias("total_tokens"),
    )


ORACLE_PACK_GREEDY = """
WITH RECURSIVE t AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS tok,
         SUM(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT))
           OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents),
packs(pack_id, start_cum, end_cum) AS (
  SELECT 0, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT)
  UNION ALL
  SELECT p.pack_id + 1, p.end_cum,
         COALESCE((SELECT MAX(cum) FROM t
                   WHERE cum <= p.end_cum + 512 AND cum > p.end_cum),
                  (SELECT MIN(cum) FROM t WHERE cum > p.end_cum))
  FROM packs p
  WHERE EXISTS (SELECT 1 FROM t WHERE cum > p.end_cum)),
assigned AS (
  SELECT t.doc_id, t.tok, p.pack_id
  FROM t JOIN packs p
    ON t.cum > p.start_cum AND t.cum <= p.end_cum
  WHERE p.pack_id > 0)
SELECT MIN(doc_id) AS first_doc,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens
FROM assigned
GROUP BY pack_id
"""
