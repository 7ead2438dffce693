"""Wide SimHash signatures + IVF ANN + connector gating."""

import itertools

import pytest
from pyspark.sql import functions as F

from scio_spark.functions import dedup as D
from tests.conftest import rows


def test_simhash_wide_banding_equals_bruteforce(spark):
    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i%4} shared tokens all around here") for i in range(16)],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(df, bits=32).collect()}
    assert all(0 <= v < 2 ** 32 for v in sh.values())
    brute = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    banded = rows(D.simhash_dedup(df, max_hamming=3, bits=32), "id_1", "id_2")
    assert brute == sorted(banded)


def test_simhash_wide_separates_better_than_16(spark):
    # 60-bit signatures collide far less than 16-bit on similar-vocab docs
    df = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i, i + 12))) for i in range(40)],
        ["doc_id", "text"],
    )
    pairs16 = D.simhash_dedup(df, max_hamming=3, bits=16).count()
    pairs60 = D.simhash_dedup(df, max_hamming=3, bits=60).count()
    assert pairs60 <= pairs16


def test_simhash_bits_cap():
    with pytest.raises(ValueError):
        # df unused before validation
        D.simhash(None, bits=64)


# ------------------------------------------------------------------- IVF


@pytest.fixture(scope="module")
def vec_df(spark):
    import math
    import random

    random.seed(11)
    data = []
    for i in range(120):
        center = [1.0 if j == (i % 4) * 4 else 0.0 for j in range(16)]
        v = [c + random.gauss(0, 0.15) for c in center]
        n = math.sqrt(sum(x * x for x in v))
        data.append((i, [x / n for x in v]))
    return spark.createDataFrame(data, ["vec_id", "embedding"])


def test_ivf_recall_vs_brute(vec_df):
    from scio_spark.functions.ivf import cosine_topk_ivf
    from scio_spark.functions.similarity import cosine_topk

    qs = vec_df.filter("vec_id < 12")
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(vec_df, qs, k=3, score_decimals=None).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(vec_df, qs, k=3, n_clusters=4, n_probe=1).collect()
    }
    # clustered data + probe of the own cluster → high recall
    assert len(brute & ivf) >= 0.8 * len(brute)


def test_ivf_probe_fanout(vec_df):
    from scio_spark.functions.ivf import _centroids, probe_centroids

    cents = _centroids(vec_df, "embedding", 4, seed=1, sample_fraction=1.0)
    probes = probe_centroids(
        vec_df.filter("vec_id < 5").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
        ),
        "__qv",
        cents,
        n_probe=2,
    )
    assert probes.count() == 10  # 5 queries × 2 probes


def test_ivf_assignment_gemm_at_256_clusters(vec_df):
    """n_clusters=256 must neither blow codegen (the old literal-argmax
    failure mode) nor lose exactness when every list is probed: plan stays
    GEMM-sized and full-probe output equals brute force."""
    from scio_spark.functions.ivf import cosine_topk_ivf
    from scio_spark.functions.similarity import cosine_topk

    qs = vec_df.filter("vec_id < 6")
    out = cosine_topk_ivf(
        vec_df, qs, k=3, n_clusters=256, n_probe=256, score_decimals=None
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # assignment must be Arrow-batched Python (constant plan size in k),
    # not a 256-wide literal array expression
    assert "MapInPandas" in plan
    assert "named_struct" not in plan.lower()
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(vec_df, qs, k=3, score_decimals=None).collect()
    }
    full = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert full == brute


# ------------------------------------------------------------ connectors


def test_kafka_gated(spark):
    from scio_spark.sources.connectors import kafka_stream

    with pytest.raises(NotImplementedError):
        kafka_stream(spark, "localhost:9092", "t")


def test_iceberg_gated(spark):
    from scio_spark.sources.connectors import iceberg_table

    with pytest.raises(NotImplementedError):
        iceberg_table(spark, "nosuch.catalog.table")


def test_ivf_persisted_index_partition_pruned(vec_df, tmp_path):
    """The persisted-index search must (a) read only probed partitions —
    PartitionFilters on centroid — and (b) equal brute force when every
    list is probed."""
    from scio_spark.functions.ivf import build_ivf_index, search_ivf_index
    from scio_spark.functions.similarity import cosine_topk

    path = str(tmp_path / "ivf_index")
    build_ivf_index(vec_df, path, n_clusters=4, seed=1)
    spark = vec_df.sparkSession
    qs = vec_df.filter("vec_id < 6")

    pruned = search_ivf_index(spark, path, qs, k=3, n_probe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid" in plan
    assert pruned.count() > 0

    full = search_ivf_index(spark, path, qs, k=3, n_probe=4)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(vec_df, qs, k=3, score_decimals=None).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert got == brute


def test_side_input_guard_raises_not_ooms(vec_df, tmp_path):
    """A query set past max_query_rows must raise an actionable error before
    any collect/broadcast — the connector gating policy applied to the ANN
    side inputs (VERDICT r2 #5)."""
    import pytest

    from scio_spark.functions.ivf import build_ivf_index, search_ivf_index
    from scio_spark.functions.pq import build_ivfpq_index, search_ivfpq_index
    from scio_spark.functions.similarity import cosine_topk, cosine_topk_hnsw

    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk(vec_df, vec_df, k=3, max_query_rows=10)

    path = str(tmp_path / "ivf_guard")
    build_ivf_index(vec_df, path, n_clusters=4)
    with pytest.raises(ValueError, match="max_query_rows"):
        search_ivf_index(
            vec_df.sparkSession, path, vec_df, k=3, max_query_rows=10
        )

    pq_path = str(tmp_path / "ivfpq_guard")
    build_ivfpq_index(vec_df, pq_path, n_clusters=4, m=4, n_codes=8, iters=2)
    with pytest.raises(ValueError, match="max_query_rows"):
        search_ivfpq_index(
            vec_df.sparkSession, pq_path, vec_df, k=3, max_query_rows=10
        )

    with pytest.raises(ValueError, match="max_corpus_rows"):
        cosine_topk_hnsw(vec_df, vec_df, k=3, max_corpus_rows=10)
