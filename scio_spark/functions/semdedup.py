"""SemDeDup — semantic (embedding-space) deduplication, cluster-scoped.

Beyond-reference LLM-pipeline operator (the embedding analog of the
MinHash/SimHash family in functions/dedup.py). Method from the public
SemDeDup paper (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): k-means cluster the corpus
embeddings, then search for near-duplicate pairs (cosine >= eps) ONLY
within each cluster — pairwise work drops from O(n²) to
O(Σ cluster_size²), the same sub-quadratic shape the banded LSH paths use.

Dedup rule: an item is a duplicate iff some item in ITS cluster with a
smaller id is within eps — the corpus-first-occurrence convention every
dedup operator in this repo uses (deterministic, no union-find needed; the
paper's "keep one per group" with the keeper being the smallest id).

Scale shape (100 TB):
- centroids are a k×d float matrix — broadcast, never shuffled
  (train with functions/ivf._centroids, or pass them in);
- assignment is one Arrow-batched GEMM pass (ivf.assign_centroid);
- the within-cluster pair search is ONE shuffle on centroid id, then a
  per-cluster blocked GEMM (row blocks of 1024 against the cluster
  matrix — peak memory O(block × cluster), never cluster²), the
  ``_mark_cluster`` kernel shared with ``incremental_semantic_dedup``;
- a cluster larger than ``max_cluster_rows`` raises actionably (the knob
  is n_clusters: the paper sizes k ~ sqrt(n) so clusters stay bounded).

Oracle-exactness note (q_semantic_dedup): with explicit deterministic
centroids, every DECISION (nearest centroid, cosine >= eps) carries a
data margin (>= 4e-4 on the test corpus) many orders above float64
round-off, so numpy-GEMM results replay exactly in DuckDB's sequential
list_cosine_similarity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _write_text(spark, path: str, text: str) -> None:
    """Small-file write through the Hadoop FileSystem API (same route as
    operators/merge._fs) so the index works on hdfs://, s3a://, etc.,
    not just the local filesystem."""
    from scio_spark.operators.merge import _fs

    jvm, hpath, fs = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark, path: str) -> str:
    from scio_spark.operators.merge import _fs

    jvm, hpath, fs = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def _mark_cluster(
    pdf: pd.DataFrame,
    order: list[str],
    n_ref: int,
    id_col: str,
    vec_col: str,
    eps: float,
    max_rows: int,
    what: str,
) -> pd.DataFrame:
    """The one mark kernel of both SemDeDup paths, for one cluster: sort
    the rows by ``order``, L2-normalize, and mark row r a duplicate iff an
    EARLIER row is within ``eps`` cosine. The first ``n_ref`` rows after
    the sort are reference rows (the staged index): compared against,
    never returned. Rows are scored in blocks of 1024 against the whole
    cluster matrix — peak memory O(1024 × cluster), never cluster²; a
    cluster past ``max_rows`` fails actionably. Returns (id_col, centroid,
    is_dup) for the rows after the reference rows."""
    if len(pdf) > max_rows:
        raise ValueError(
            f"{what}: cluster {int(pdf['centroid'].iloc[0])} has {len(pdf)} "
            f"rows > max_cluster_rows={max_rows}; increase n_clusters "
            "(SemDeDup sizes k ~ sqrt(n); the incremental path fixes it when "
            "the index is staged) or raise the cap explicitly"
        )
    pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    n = len(mat)
    is_dup = np.zeros(n, dtype=np.int32)
    for lo in range(max(n_ref, 1), n, 1024):  # row 0 can never be a dup
        hi = min(lo + 1024, n)
        block = mat[lo:hi] @ mat.T  # (b, n)
        # only EARLIER columns count (sorted ⇒ j < row index)
        earlier = np.arange(n)[None, :] < np.arange(lo, hi)[:, None]
        is_dup[lo:hi] = ((block >= eps) & earlier).any(axis=1)
    return pd.DataFrame(
        {
            id_col: pdf[id_col].to_numpy()[n_ref:],
            "centroid": pdf["centroid"].to_numpy(np.int32)[n_ref:],
            "is_dup": is_dup[n_ref:],
        }
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | np.ndarray | None = None,
    n_clusters: int = 64,
    eps: float = 0.45,
    max_cluster_rows: int = 20_000,
    seed: int = 7,
) -> DataFrame:
    """Mark semantic near-duplicates. Returns (id_col, centroid int,
    is_dup int) — is_dup=1 iff a smaller-id item in the same cluster has
    cosine similarity >= eps.

    ``centroids=None`` trains them with ivf's bounded-sample k-means;
    passing explicit centroids makes the operator fully deterministic
    (the oracle mode). Centroids are L2-normalized internally, so nearest
    centroid by dot product == nearest by cosine."""
    from scio_spark.functions.ivf import assign_centroid

    if centroids is None:
        from scio_spark.functions.ivf import _centroids

        centroids = _centroids(
            df, vec_col, n_clusters, seed=seed, sample_fraction=1.0
        )
    cent = np.asarray(centroids, dtype=np.float64)
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    assigned = assign_centroid(
        df.select(id_col, vec_col), vec_col, cent.tolist()
    )

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        return _mark_cluster(
            pdf, [id_col], 0, id_col, vec_col, eps, max_cluster_rows,
            "semantic_dedup",
        )

    return assigned.groupBy("centroid").applyInPandas(
        mark, f"{id_col} {dict(df.dtypes)[id_col]}, centroid int, is_dup int"
    )


def stage_semantic_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    path: str,
) -> None:
    """Persist the corpus's cluster-assigned embeddings as a
    centroid-partitioned parquet index — the historical side of
    INCREMENTAL SemDeDup (the embedding sibling of dedup.py's
    stage_minhash_index / substr_dedup's gram index): tomorrow's batch
    dedups against years of corpus reading ONLY the cluster partitions
    the batch actually touches (static directory pruning), never
    re-assigning or re-comparing the history. Centroids are frozen
    beside the index (centroids.json) so every future batch shares the
    same cluster geometry."""
    import json
    import os

    cent = np.asarray(centroids, dtype=np.float64)
    cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    from scio_spark.functions.ivf import assign_centroid

    assigned = assign_centroid(df.select(id_col, vec_col), vec_col, cent.tolist())
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(
        os.path.join(path, "index")
    )
    _write_text(
        df.sparkSession,
        os.path.join(path, "centroids.json"),
        json.dumps(cent.tolist()),
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    eps: float = 0.45,
    max_cluster_rows: int = 20_000,
    append: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Mark a NEW batch against a staged semantic index: a batch item is
    a duplicate iff an index item in its cluster, or a smaller-id batch
    item in its cluster, is within ``eps`` cosine — exactly the marks a
    full ``semantic_dedup`` over (index ∪ batch) would give the batch
    rows when index ids precede batch ids (equivalence is pinned in
    tests). Cost is O(|batch| × touched-cluster history), never a corpus
    re-scan: the index read is partition-pruned to the batch's clusters.
    With ``append=True`` the surviving (non-duplicate) batch rows join
    the index for the next day — the accepted-rows policy the MinHash
    index uses (stage_minhash_index): the index stays the CLEANED
    corpus. Note the standard incremental-dedup caveat: comparing
    against survivors-only can differ from a from-scratch rebuild when a
    new item is within eps of a dropped duplicate but not of its keeper
    (cosine is not transitive); single-increment marks against a staged
    index are exactly the rebuild's marks (the pinned test)."""
    import json
    import os

    spark = batch.sparkSession
    cent = json.loads(_read_text(spark, os.path.join(path, "centroids.json")))
    from scio_spark.functions.ivf import assign_centroid

    # Materialize the batch assignment ONCE (r15-opt): it is read three
    # times below (touched-cluster collect, the union branch, and the
    # append-survivors join), and un-checkpointed each reference re-runs
    # the scan + Python-GEMM assignment. The batch is O(day), not
    # O(corpus), so the checkpoint is bounded by design.
    from scio_spark.functions.dedup import stage_bounded

    b = stage_bounded(
        assign_centroid(batch.select(id_col, vec_col), vec_col, cent),
        checkpoint_dir,
    )
    touched = [int(r.centroid) for r in b.select("centroid").distinct().collect()]
    idx = (
        spark.read.parquet(os.path.join(path, "index"))
        .filter(F.col("centroid").isin(touched))
        .withColumn("__is_new", F.lit(0))
    )
    both = idx.unionByName(b.withColumn("__is_new", F.lit(1)))

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        # index rows first (they always precede the batch), then batch by id
        return _mark_cluster(
            pdf, ["__is_new", id_col], int((pdf["__is_new"] == 0).sum()),
            id_col, vec_col, eps, max_cluster_rows, "incremental_semantic_dedup",
        )

    marked = both.groupBy("centroid").applyInPandas(
        mark,
        f"{id_col} {dict(batch.dtypes)[id_col]}, centroid int, is_dup int",
    )
    if append:
        survivors = b.join(
            marked.filter("is_dup = 0").select(id_col), id_col
        )
        survivors.write.mode("append").partitionBy("centroid").parquet(
            os.path.join(path, "index")
        )
    return marked


def semantic_dedup_stats(marked: DataFrame) -> DataFrame:
    """Per-cluster accounting of a semantic_dedup result: items, dups, and
    the dup-id checksum (hash-strength column for oracle comparison)."""
    id_col = marked.columns[0]
    return marked.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.sum(F.when(F.col("is_dup") == 1, F.col(id_col)).otherwise(0))
        .cast("long")
        .alias("dup_id_sum"),
    )
