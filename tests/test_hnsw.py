"""Pure-numpy HNSW: recall, exhaustive-exactness, connectivity, parity."""

import numpy as np
import pytest

from scio_spark.functions.hnsw import (
    HnswIndex,
    _repair_connectivity,
    build_hnsw,
    search_hnsw,
)


def _unit_rows(rng, n, dim):
    x = rng.standard_normal((n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _brute_topk(mat, q, k):
    sims = mat @ q
    order = np.argsort(-sims, kind="stable")
    return order[:k]


def test_recall_at_ef64_on_random_corpus():
    """The Voyager-parity bar from the round brief: recall@10 >= 0.9 at
    ef=64 on a 2000x64 corpus (M=16, ef_construction=200)."""
    rng = np.random.default_rng(7)
    mat = _unit_rows(rng, 2000, 64)
    idx = build_hnsw(mat, m=16, ef_construction=200)
    hits = total = 0
    for qi in range(0, 2000, 20):  # 100 queries drawn from the corpus
        exact = set(_brute_topk(mat, mat[qi], 10).tolist())
        got = {row for _, row in search_hnsw(idx, mat[qi], 10, ef=64)}
        hits += len(exact & got)
        total += 10
    assert hits / total >= 0.9, f"recall {hits/total:.3f} < 0.9"


def test_exhaustive_regime_is_exact():
    """ef >= n visits every node (connectivity repair guarantees layer-0
    reachability), so the result equals brute-force top-k exactly —
    the property the ann_hnsw contract oracle rests on."""
    rng = np.random.default_rng(11)
    mat = _unit_rows(rng, 400, 32)
    idx = build_hnsw(mat, m=8, ef_construction=50)
    for qi in (0, 17, 399):
        exact = _brute_topk(mat, mat[qi], 5)
        got = [row for _, row in search_hnsw(idx, mat[qi], 5, ef=idx.n)]
        assert got == exact.tolist()


def test_connectivity_repair_bridges_clusters():
    """Two tight, mutually-orthogonal clusters: without repair the
    greedy build can leave one unreachable; after build every node must
    be reachable and exhaustive search still exact."""
    rng = np.random.default_rng(3)
    a = _unit_rows(rng, 60, 16) * 0.05
    a[:, 0] += 1.0
    b = _unit_rows(rng, 60, 16) * 0.05
    b[:, 1] += 1.0
    mat = np.concatenate([a, b])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    idx = build_hnsw(mat, m=4, ef_construction=8)
    # BFS over layer 0 from the entry reaches every node
    seen = {idx.entry}
    stack = [idx.entry]
    while stack:
        c = stack.pop()
        for v in idx.adj[0].get(c, ()):
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == idx.n
    # exhaustive search from a cluster-a query still finds cluster-b rows
    got = [row for _, row in search_hnsw(idx, mat[100], 3, ef=idx.n)]
    assert got == _brute_topk(mat, mat[100], 3).tolist()


def test_exhaustive_gemm_shortcut_equals_the_beam_walk():
    """search_hnsw computes ef >= n as one GEMM over the reachable set;
    pin that this equals what the actual beam walk returns (the beam
    never prunes below ef, so both are top-k of the reachable set)."""
    from scio_spark.functions.hnsw import _search_layer

    rng = np.random.default_rng(21)
    mat = _unit_rows(rng, 200, 16)
    idx = build_hnsw(mat, m=8, ef_construction=40)
    for qi in (3, 77, 150):
        q = mat[qi]
        eps = [idx.entry]
        for lc in range(idx.top, 0, -1):
            eps = [_search_layer(idx.mat, idx.adj[lc], q, eps, 1)[0][1]]
        beam = _search_layer(idx.mat, idx.adj[0], q, eps, idx.n)
        beam_rows = sorted(row for _, row in beam[:7])
        gemm_rows = sorted(row for _, row in search_hnsw(idx, q, 7, ef=idx.n))
        # same top-7 membership; ordering ties differ only on equal sims
        assert beam_rows == gemm_rows


def test_repair_is_noop_on_connected_graph():
    mat = _unit_rows(np.random.default_rng(5), 50, 8)
    idx = build_hnsw(mat, m=8, ef_construction=40)
    before = {k: list(v) for k, v in idx.adj[0].items()}
    _repair_connectivity(mat.astype(np.float64), idx.adj[0], idx.entry)
    assert {k: list(v) for k, v in idx.adj[0].items()} == before


def test_build_is_deterministic():
    mat = _unit_rows(np.random.default_rng(9), 300, 16)
    i1 = build_hnsw(mat, m=8, ef_construction=40, seed=13)
    i2 = build_hnsw(mat, m=8, ef_construction=40, seed=13)
    assert i1.entry == i2.entry and i1.top == i2.top
    assert len(i1.adj) == len(i2.adj)
    for l1, l2 in zip(i1.adj, i2.adj):
        assert {k: list(v) for k, v in l1.items()} == {
            k: list(v) for k, v in l2.items()
        }


def test_degenerate_inputs():
    one = build_hnsw(np.array([[1.0, 0.0]]))
    assert [row for _, row in search_hnsw(one, np.array([1.0, 0.0]), 3)] == [0]
    with pytest.raises(ValueError, match="empty"):
        build_hnsw(np.zeros((0, 4)))


def test_index_is_picklable():
    import pickle

    mat = _unit_rows(np.random.default_rng(1), 100, 8)
    idx = build_hnsw(mat, m=8, ef_construction=20)
    back = pickle.loads(pickle.dumps(idx))
    assert isinstance(back, HnswIndex)
    q = mat[42]
    assert search_hnsw(back, q, 3, ef=100) == search_hnsw(idx, q, 3, ef=100)


# ---------- sharded HNSW (VERDICT r14 ask #7: lift the side-input bound) ---


def _fixture(spark, n=80, dim=16, seed=3):
    import math
    import random

    random.seed(seed)
    data = []
    for i in range(n):
        v = [random.gauss(0, 1) for _ in range(dim)]
        nn = math.sqrt(sum(x * x for x in v))
        data.append((i, [x / nn for x in v]))
    return spark.createDataFrame(data, ["vec_id", "embedding"])


def test_hnsw_sharded_exhaustive_parity(spark):
    """Exhaustive + exact_rescore: the union of per-shard exact top-k
    contains the global top-k, so the sharded path must equal cosine_topk
    bit for bit — at 1 shard AND several."""
    from scio_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_hnsw_sharded,
    )

    emb = _fixture(spark)
    qs = emb.filter("vec_id % 9 = 0")
    ref = sorted(tuple(r) for r in cosine_topk(emb, qs, k=3).collect())
    for s in (1, 3):
        got = sorted(
            tuple(r)
            for r in cosine_topk_hnsw_sharded(
                emb, qs, k=3, ef_search=None, exact_rescore=True, n_shards=s
            ).collect()
        )
        assert got == ref, f"n_shards={s}"


def test_hnsw_sharded_no_driver_collect(spark):
    """Nothing corpus- or query-sized touches the driver: zero collect()
    calls in the build (unlike cosine_topk_hnsw, which collects the whole
    corpus as a side input)."""
    from scio_spark.functions.similarity import cosine_topk_hnsw_sharded

    emb = _fixture(spark)
    qs = emb.filter("vec_id % 9 = 0")
    calls = []
    cls = type(emb)
    orig = cls.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    cls.collect = counting
    try:
        df = cosine_topk_hnsw_sharded(emb, qs, k=3, n_shards=3)
    finally:
        cls.collect = orig
    assert calls == []
    from scio_spark.plans import lint

    assert "FlatMapCoGroupsInPandas" in lint.executed_plan(df)


def test_hnsw_sharded_approx_recall(spark):
    """Approximate regime at a realistic ef: sharding only shrinks each
    graph, so recall vs exact stays high."""
    from scio_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_hnsw_sharded,
    )

    emb = _fixture(spark, n=120)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, emb, k=3, max_query_rows=200).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_hnsw_sharded(
            emb, emb, k=3, ef_search=64, n_shards=4
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.9


def test_hnsw_sharded_group_guard_trips(spark):
    import pytest

    from scio_spark.functions.similarity import cosine_topk_hnsw_sharded

    emb = _fixture(spark)
    qs = emb.filter("vec_id % 9 = 0")
    with pytest.raises(Exception, match="max_group_rows") as err:
        cosine_topk_hnsw_sharded(
            emb, qs, k=3, n_shards=2, max_group_rows=10
        ).collect()
    # the error names the lever a sharded-HNSW caller can set
    assert "n_shards" in str(err.value)


def test_hnsw_sharded_query_guard_names_its_own_lever(spark):
    """Every query meets every shard, so a query block past the cap trips
    the query side (the shards of 80 rows stay far below 40); the message
    names the levers this operator has, not IVF's n_clusters/n_probe."""
    import pytest

    from scio_spark.functions.similarity import cosine_topk_hnsw_sharded

    emb = _fixture(spark)
    with pytest.raises(Exception, match="80 queries") as err:
        cosine_topk_hnsw_sharded(
            emb, emb, k=3, n_shards=8, max_group_rows=40
        ).collect()
    msg = str(err.value)
    assert "split the query workload" in msg
    assert "n_clusters" not in msg and "n_probe" not in msg


def test_hnsw_exact_rescore_cut_keeps_rounding_boundary_ties(spark):
    """The r15-opt candidate cut (keep_candidates + cut_margin before the
    JVM rescore) must keep every row within one rounding step of the k-th
    beam score: a corpus planted with scores straddling the 5-decimal
    boundary around rank k must still produce output identical to the
    brute JVM path, for BOTH the side-input and the sharded operator."""
    import math

    from scio_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_hnsw,
        cosine_topk_hnsw_sharded,
    )

    # query = angle 0; neighbors at angles giving cosines that tie at 5
    # decimals across the k=2 boundary (0.9 + {4.9e-6, 0, -4.9e-6} all
    # round to 0.90000 — the 0.399996-class pattern from ADVICE r14)
    cosines = [0.99, 0.95, 0.9 + 4.9e-6, 0.9, 0.9 - 4.9e-6, 0.5, 0.1]
    data = [(0, [1.0, 0.0])] + [
        (i + 1, [c, math.sqrt(1 - c * c)]) for i, c in enumerate(cosines)
    ]
    emb = spark.createDataFrame(data, ["vec_id", "embedding"])
    qs = emb.filter("vec_id = 0")
    for k in (2, 4):
        ref = sorted(
            tuple(r) for r in cosine_topk(emb, qs, k=k).collect()
        )
        got = sorted(
            tuple(r)
            for r in cosine_topk_hnsw(
                emb, qs, k=k, ef_search=None, exact_rescore=True
            ).collect()
        )
        assert got == ref, f"side-input k={k}"
        got_sh = sorted(
            tuple(r)
            for r in cosine_topk_hnsw_sharded(
                emb, qs, k=k, ef_search=None, exact_rescore=True, n_shards=2
            ).collect()
        )
        assert got_sh == ref, f"sharded k={k}"
