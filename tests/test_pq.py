"""Product-quantization ANN tests (functions/pq.py)."""

import math
import random

import numpy as np
import pytest

from scio_spark.functions.pq import (
    _kmeans_np,
    cosine_topk_pq,
    pq_encode,
    train_pq_codebooks,
)
from scio_spark.functions.similarity import cosine_topk


@pytest.fixture(scope="module")
def vecs(spark):
    random.seed(31)
    data = []
    for i in range(400):
        v = [random.gauss(0, 1) for _ in range(32)]
        n = math.sqrt(sum(x * x for x in v))
        data.append((i, [x / n for x in v]))
    return spark.createDataFrame(data, ["vec_id", "embedding"])


def test_kmeans_np_clusters_separated_data():
    rng = np.random.RandomState(3)
    a = rng.normal(0, 0.05, (200, 4)) + np.array([1, 0, 0, 0])
    b = rng.normal(0, 0.05, (200, 4)) + np.array([0, 1, 0, 0])
    cent = _kmeans_np(np.vstack([a, b]).astype(np.float64), 2, 10, 1)
    # one centroid near each cluster mean
    d_a = np.abs(cent - np.array([1, 0, 0, 0])).sum(1).min()
    d_b = np.abs(cent - np.array([0, 1, 0, 0])).sum(1).min()
    assert d_a < 0.1 and d_b < 0.1


def test_codebook_shapes_and_dim_check(vecs):
    books = train_pq_codebooks(vecs, m=8, n_codes=16, iters=4)
    assert books.shape == (8, 16, 4)
    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(vecs, m=5)


def test_encode_is_m_bytes(vecs):
    books = train_pq_codebooks(vecs, m=8, n_codes=16, iters=4)
    coded = pq_encode(vecs, books).collect()
    assert len(coded) == 400
    assert all(len(bytes(r.pq_code)) == 8 for r in coded)  # 32 floats → 8 B


def test_encode_reconstruction_beats_random(vecs):
    """PQ codes reconstruct vectors far better than random codes — the
    quantizer is actually learning."""
    books = train_pq_codebooks(vecs, m=8, n_codes=32, iters=8)
    rows = vecs.collect()
    x = np.array([r.embedding for r in rows], dtype=np.float32)
    coded = {r.vec_id: np.frombuffer(bytes(r.pq_code), np.uint8)
             for r in pq_encode(vecs, books).collect()}
    m, _, sub = books.shape
    err = 0.0
    rand_err = 0.0
    rng = np.random.RandomState(0)
    for r in rows:
        code = coded[r.vec_id]
        rec = np.concatenate([books[j, code[j]] for j in range(m)])
        rnd = np.concatenate(
            [books[j, rng.randint(32)] for j in range(m)]
        )
        v = np.array(r.embedding, dtype=np.float32)
        err += ((rec - v) ** 2).sum()
        rand_err += ((rnd - v) ** 2).sum()
    assert err < 0.5 * rand_err


def test_pq_recall_and_exact_scores(vecs):
    books = train_pq_codebooks(vecs, m=8, n_codes=64, iters=8)
    exact = cosine_topk(vecs, vecs, k=5)
    approx = cosine_topk_pq(vecs, vecs, books, k=5, oversample=8)
    e = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    s = {(r.query_id, r.neighbor_id): r.score for r in approx.collect()}
    recall = len(set(e) & set(s)) / len(e)
    assert recall >= 0.7, recall  # 32x compression: recall is the tradeoff
    for pair in set(e) & set(s):
        assert e[pair] == s[pair]  # survivors carry exact rescored values


def test_output_contract(vecs):
    books = train_pq_codebooks(vecs, m=8, n_codes=16, iters=4)
    out = cosine_topk_pq(vecs.limit(60), vecs.limit(10), books, k=3)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3


def test_ivfpq_recall(vecs):
    """The composed IVF-PQ path: routing restricts the scan, ADC scores
    the probed lists, exact rescore fixes the scores. With generous
    probing, recall vs exact stays high."""
    books = train_pq_codebooks(vecs, m=8, n_codes=64, iters=8)
    from scio_spark.functions.pq import cosine_topk_ivfpq
    from scio_spark.functions.similarity import cosine_topk

    exact = cosine_topk(vecs, vecs, k=5)
    approx = cosine_topk_ivfpq(
        vecs, vecs, books, k=5, n_clusters=8, n_probe=6, oversample=8
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    s = {(r.query_id, r.neighbor_id): r.score for r in approx.collect()}
    recall = len(e & set(s)) / len(e)
    assert recall >= 0.6, recall  # routing + 32x compression both cost recall
    # full probing + exact rescore: scores of survivors are exact
    ex = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    for pair in e & set(s):
        assert ex[pair] == s[pair]


def test_pq_index_build_search_exhaustive_exact(vecs, tmp_path):
    """Persisted index, exhaustive regime (k·oversample ≥ index rows):
    search over stored codes+vectors equals exact brute-force top-k —
    the contract-query pin."""
    from scio_spark.functions.pq import build_pq_index, search_pq_index

    spark = vecs.sparkSession
    path = str(tmp_path / "pqidx")
    build_pq_index(vecs, path, m=8, n_codes=16, iters=4)
    got = search_pq_index(spark, path, vecs.limit(20), k=3, oversample=200)
    want = cosine_topk(vecs, vecs.limit(20), k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pq_index_append_equals_full_build(vecs, tmp_path):
    """build(part) + append(rest) answers searches identically to
    build(all) in the exhaustive regime: appended rows are first-class
    index rows and the frozen codebooks only gate candidate recall
    (irrelevant when exhaustive). Codebooks must train on the SAME part
    in both runs for code-level equality of the stored files."""
    from scio_spark.functions.pq import (
        append_pq_index,
        build_pq_index,
        search_pq_index,
    )

    spark = vecs.sparkSession
    part = vecs.filter("vec_id < 300")
    rest = vecs.filter("vec_id >= 300")
    p1 = str(tmp_path / "staged")
    build_pq_index(part, p1, m=8, n_codes=16, iters=4)
    append_pq_index(spark, p1, rest)
    qs = vecs.filter("vec_id % 40 = 0")
    got = search_pq_index(spark, p1, qs, k=3, oversample=200)
    want = cosine_topk(vecs, qs, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pq_index_streamed_matches_collected(vecs, tmp_path):
    """streamed=True (codes broadcast, queries stay a DataFrame) returns
    the same rows as the collected-queries regime at equal parameters."""
    from scio_spark.functions.pq import build_pq_index, search_pq_index

    spark = vecs.sparkSession
    path = str(tmp_path / "pqidx_s")
    build_pq_index(vecs, path, m=8, n_codes=64, iters=8)
    qs = vecs.filter("vec_id % 25 = 0")
    a = search_pq_index(spark, path, qs, k=5, oversample=8)
    b = search_pq_index(spark, path, qs, k=5, oversample=8, streamed=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pq_index_scan_is_column_pruned(vecs, tmp_path):
    """The ADC candidate branch must read only (id, pq_code) from the
    index parquet — never the float vector column; the rescore branch
    reads the vectors. Both properties visible in ReadSchema."""
    from scio_spark.functions.pq import build_pq_index, search_pq_index

    spark = vecs.sparkSession
    path = str(tmp_path / "pqidx_p")
    build_pq_index(vecs, path, m=8, n_codes=16, iters=4)
    plan = (
        search_pq_index(spark, path, vecs.limit(5), k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("pq_code" in s and "embedding" not in s for s in schemas), schemas


def test_ivfpq_index_build_append_search_exhaustive_exact(vecs, tmp_path):
    """Persisted IVF-PQ index: build(part) + append(rest), searched with
    n_probe = n_clusters and k·oversample ≥ the largest list, equals
    exact brute-force top-k — both prunings exercised, zero recall loss
    in the exhaustive regime."""
    from scio_spark.functions.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    spark = vecs.sparkSession
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        vecs.filter("vec_id < 300"), path, n_clusters=8, m=8, n_codes=16,
        iters=4, max_iter=2,
    )
    append_ivfpq_index(spark, path, vecs.filter("vec_id >= 300"))
    qs = vecs.filter("vec_id % 40 = 0")
    got = search_ivfpq_index(spark, path, qs, k=3, n_probe=8, oversample=200)
    want = cosine_topk(vecs, qs, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_index_streamed_matches_collected(vecs, tmp_path):
    """streamed=True (distributed probe routing + salted coded cogroup)
    returns the same rows as the collected regime at equal parameters,
    including with corpus block-salting on."""
    from scio_spark.functions.pq import build_ivfpq_index, search_ivfpq_index

    spark = vecs.sparkSession
    path = str(tmp_path / "ivfpq_s")
    build_ivfpq_index(vecs, path, n_clusters=8, m=8, n_codes=64, iters=8, max_iter=2)
    qs = vecs.filter("vec_id % 25 = 0")
    a = search_ivfpq_index(spark, path, qs, k=5, n_probe=8, oversample=200)
    b = search_ivfpq_index(
        spark, path, qs, k=5, n_probe=8, oversample=200, streamed=True,
        corpus_blocks=3,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ivfpq_index_scan_is_partition_and_column_pruned(vecs, tmp_path):
    """With n_probe < n_clusters the candidate branch must show BOTH
    prunings: a centroid partition filter and a ReadSchema restricted to
    (id, pq_code) — never the float vectors."""
    from scio_spark.functions.pq import build_ivfpq_index, search_ivfpq_index

    spark = vecs.sparkSession
    path = str(tmp_path / "ivfpq_p")
    build_ivfpq_index(vecs, path, n_clusters=8, m=8, n_codes=16, iters=4, max_iter=2)
    plan = (
        search_ivfpq_index(spark, path, vecs.limit(5), k=3, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    assert any(
        "PartitionFilters" in l and "centroid" in l for l in lines
    ), "no centroid partition pruning in plan"
    schemas = [l for l in lines if "ReadSchema" in l]
    assert any("pq_code" in s and "embedding" not in s for s in schemas), schemas


def test_ivfpq_index_residual_exhaustive_exact(vecs, tmp_path):
    """residual=True changes only how codes are trained/encoded; the
    exhaustive regime (with append) must still equal brute-force top-k,
    and the stored flag must survive the append round-trip."""
    from scio_spark.functions.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    spark = vecs.sparkSession
    path = str(tmp_path / "ivfpq_r")
    build_ivfpq_index(
        vecs.filter("vec_id < 300"), path, n_clusters=8, m=8, n_codes=16,
        iters=4, max_iter=2, residual=True,
    )
    append_ivfpq_index(spark, path, vecs.filter("vec_id >= 300"))
    qs = vecs.filter("vec_id % 40 = 0")
    got = search_ivfpq_index(spark, path, qs, k=3, n_probe=8, oversample=200)
    want = cosine_topk(vecs, qs, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivfpq_residual_codes_reconstruct_better_on_clustered_data(spark, tmp_path):
    """The point of residual mode: on clustered data the residual cloud is
    tighter than the raw vectors, so the same m bytes quantize finer.
    Pin: centroid + decoded-residual reconstruction beats raw-PQ decode
    on a blob fixture (8 tight clusters around random unit centers)."""
    import numpy as np

    from scio_spark.functions.pq import _load_ivfpq_meta, build_ivfpq_index

    rng = np.random.RandomState(5)
    centers = rng.normal(0, 1, (8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, 50, axis=0) + rng.normal(0, 0.05, (400, 16))
    df = spark.createDataFrame(
        [(i, [float(v) for v in pts[i]]) for i in range(400)],
        ["vec_id", "embedding"],
    )

    def recon_err(path, residual):
        cents, books, flag = _load_ivfpq_meta(spark, path)
        assert flag is residual
        cmat = np.array(cents, dtype=np.float32)
        m, _, sub = books.shape
        rows = spark.read.parquet(path).collect()
        err = 0.0
        for r in rows:
            code = np.frombuffer(bytes(r.pq_code), np.uint8)
            dec = np.concatenate([books[j, code[j]] for j in range(m)])
            if residual:
                dec = dec + cmat[r.centroid]
            v = np.array(r.embedding, dtype=np.float32)
            err += float(((dec - v) ** 2).sum())
        return err

    kw = dict(n_clusters=8, m=8, n_codes=8, iters=6, max_iter=4, seed=5)
    p_raw = str(tmp_path / "raw")
    p_res = str(tmp_path / "res")
    build_ivfpq_index(df, p_raw, residual=False, **kw)
    build_ivfpq_index(df, p_res, residual=True, **kw)
    e_raw, e_res = recon_err(p_raw, False), recon_err(p_res, True)
    assert e_res < 0.5 * e_raw, (e_res, e_raw)


def _broadcast_leaves(df):
    """Leaf operators under every BroadcastExchange of df's physical plan."""

    def walk(node, under):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        under = under or node.nodeName() == "BroadcastExchange"
        kids = node.children()
        if kids.isEmpty() and under:
            yield node.toString()
        for i in range(kids.size()):
            yield from walk(kids.apply(i), under)

    return list(walk(df._jdf.queryExecution().executedPlan(), False))


def test_over_budget_index_is_not_broadcast(vecs, tmp_path):
    """An index past the broadcast budget (autoBroadcastJoinThreshold=-1
    stands in for one over 64 MB) must reach the exact re-cut and rescore
    through a shuffle join — no BroadcastExchange over the index vectors —
    and return the same rows as the default session. The queries are an
    in-memory frame, so every parquet scan is an index scan."""
    from scio_spark.functions.pq import (
        build_ivfpq_index,
        build_pq_index,
        search_ivfpq_index,
        search_pq_index,
    )

    spark = vecs.sparkSession
    pq_path = str(tmp_path / "pq_over")
    ivfpq_path = str(tmp_path / "ivfpq_over")
    build_pq_index(vecs, pq_path, m=8, n_codes=16, iters=4)
    build_ivfpq_index(vecs, ivfpq_path, n_clusters=4, m=8, n_codes=16, iters=4)
    qs = vecs.filter("vec_id % 40 = 0")
    searches = {
        pq_path: lambda: search_pq_index(spark, pq_path, qs, k=3, oversample=200),
        ivfpq_path: lambda: search_ivfpq_index(
            spark, ivfpq_path, qs, k=3, n_probe=4, oversample=200
        ),
    }
    want = {p: sorted(map(tuple, run().collect())) for p, run in searches.items()}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for path, run in searches.items():
            df = run()
            leaves = _broadcast_leaves(df)
            assert not any(
                "FileScan parquet" in leaf and "embedding" in leaf for leaf in leaves
            ), leaves
            assert sorted(map(tuple, df.collect())) == want[path]
    finally:
        spark.conf.set(key, old)
