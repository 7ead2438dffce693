"""Sort-merge-bucket (SMB) analog — shuffle-free joins from pre-bucketed data.

Reference: scio-smb (10.5k LoC of Java: SortedBucketSource.java,
SortedBucketSink.java, BucketMetadata.java:107-146 — bucket-by-key-hash files,
sorted in-bucket, JSON metadata beside the data; merge-read in
MultiSourceKeyGroupReader.java). Spark has this machinery built in:
``bucketBy(n, key).sortBy(key)`` tables join/aggregate WITHOUT a shuffle or
sort when bucket counts line up (divisibility rule ≈ scio's power-of-2
compat, site/Sort-Merge-Bucket.md:30-33).

This module is the thin writer/reader wrapper scio-smb needed 10k lines for:
pin bucket counts, save as bucketed tables, verify shuffle-free plans
(plans/lint.py). ``sort_merge_transform`` covers scio's
SortMergeTransform.scala:41-171 (read bucketed → transform → rewrite with the
same bucketing).

At 100 TB: bucketed layouts amortize one shuffle across every downstream
join/agg on the key — the single biggest lever for repeated-join pipelines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.operators.merge import _fs


def save_sorted_bucket(
    df: DataFrame,
    table: str,
    key_cols: Sequence[str] | str,
    num_buckets: int = 16,
    sort_cols: Sequence[str] | str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """saveAsSortedBucket (smb/syntax/SortMergeBucketSCollectionSyntax.scala:53):
    write as a bucketed+sorted managed table and return it. ``sort_cols``
    beyond the key = secondary sort (BucketMetadata.java:76-79).

    The one bucketed-table writer: the dedup indexes (``stage_shingles``,
    ``stage_minhash_index``, ``stage_embedding_lsh_index``,
    ``stage_gram_index``) write through it too. On overwrite it first
    deletes a leftover ``<warehouse>/<table>`` location that has no
    catalog entry (a previous session's), which ``saveAsTable`` would
    refuse with LOCATION_ALREADY_EXISTS; the delete goes through the
    Hadoop FileSystem API, so it works on hdfs:// and s3a:// warehouses."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    sort_cols = (
        key_cols
        if sort_cols is None
        else [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    )
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        _, loc, fs = _fs(spark, f"{wh}/{table.lower()}")
        fs.delete(loc, True)
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *key_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


def sort_merge_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key_cols: Sequence[str] | str,
    how: str = "inner",
) -> DataFrame:
    """sortMergeJoin (SortMergeBucketScioContextSyntax.scala:65): join two
    bucketed tables on their bucket key — no shuffle, no sort in the plan
    when bucket counts are compatible (verify with plans.lint)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return spark.table(left_table).join(spark.table(right_table), key_cols, how)


def sort_merge_group_by_key(
    spark: SparkSession, table: str, key_cols: Sequence[str] | str, *aggs
) -> DataFrame:
    """sortMergeGroupByKey (:193): aggregation on the bucket key — bucketed
    scan feeds the agg without an exchange."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return spark.table(table).groupBy(*key_cols).agg(*aggs)


def sort_merge_cogroup(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key_cols: Sequence[str] | str,
) -> DataFrame:
    """sortMergeCoGroup (:281): per-side collect_list + full outer join, all
    on bucketed layout (group-bys need no exchange)."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    l, r = spark.table(left_table), spark.table(right_table)

    def side(df, name):
        vals = [c for c in df.columns if c not in key_cols]
        v = F.struct(*vals) if len(vals) > 1 else F.col(vals[0])
        return df.groupBy(*key_cols).agg(F.collect_list(v).alias(name))

    out = side(l, "values_1").join(side(r, "values_2"), key_cols, "full")
    for c in ("values_1", "values_2"):
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.array().cast(out.schema[c].dataType))
        )
    return out


def sort_merge_transform(
    spark: SparkSession,
    table: str,
    out_table: str,
    transform,
    key_cols: Sequence[str] | str,
    num_buckets: int | None = None,
) -> None:
    """sortMergeTransform (smb/SortMergeTransform.scala:41-171): read a
    bucketed table, apply a bucketing-preserving transform, rewrite with the
    SAME bucket spec so downstream SMB consumers keep the layout."""
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if num_buckets is None:
        num_buckets = bucket_count(spark, table) or 16
    result = transform(spark.table(table))
    save_sorted_bucket(result, out_table, key_cols, num_buckets)


def bucket_count(spark: SparkSession, table: str) -> int | None:
    """Read the bucket spec from the catalog (BucketMetadata.java analog —
    Spark keeps it in the table catalog instead of JSON-beside-files)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    for r in rows:
        if r["col_name"] == "Num Buckets":
            return int(r["data_type"])
    return None
