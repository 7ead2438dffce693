"""SemDeDup tests (functions/semdedup.py): cluster-scoped near-dup
marking must equal the brute-force within-cluster computation, the
oversized-cluster guard must fire, and trained-centroid mode must run
end-to-end."""

import numpy as np
import pytest

from scio_spark.functions.semdedup import semantic_dedup, semantic_dedup_stats

SF = "/root/testdata/sf0.001"


def _load(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _brute(rows, centroids, eps):
    """Reference computation: assign by cosine, mark within cluster."""
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = np.asarray(centroids, dtype=np.float64)
    centn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    assign = np.argmax(matn @ centn.T, axis=1)
    out = {}
    for c in np.unique(assign):
        sel = np.nonzero(assign == c)[0]
        order = sel[np.argsort(ids[sel], kind="stable")]
        sub = matn[order]
        sims = sub @ sub.T
        for pos, i in enumerate(order):
            out[int(ids[i])] = (int(c), int((sims[pos, :pos] >= eps).any()))
    return out


def test_matches_brute_force(spark):
    emb = _load(spark)
    rows = emb.orderBy("vec_id").collect()
    cents = [list(r.embedding) for r in rows[:8]]
    got = {
        int(r.vec_id): (int(r.centroid), int(r.is_dup))
        for r in semantic_dedup(
            emb, "vec_id", "embedding", centroids=cents, eps=0.45
        ).collect()
    }
    assert got == _brute(rows, cents, 0.45)
    assert sum(d for _, d in got.values()) > 0  # fixture has real dups


def test_stats_roll_up(spark):
    emb = _load(spark)
    rows = emb.orderBy("vec_id").limit(8).collect()
    cents = [list(r.embedding) for r in rows]
    marked = semantic_dedup(emb, "vec_id", "embedding", centroids=cents)
    stats = semantic_dedup_stats(marked).collect()
    assert sum(r.n_items for r in stats) == emb.count()
    assert all(r.n_dups <= r.n_items for r in stats)


def test_oversized_cluster_raises_actionably(spark, tmp_path):
    """Both SemDeDup paths share the cluster cap: the full pass and the
    incremental pass against a staged index."""
    from scio_spark.functions.semdedup import (
        incremental_semantic_dedup,
        stage_semantic_index,
    )

    emb = _load(spark)
    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(2).collect()]
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup(
            emb, "vec_id", "embedding", centroids=cents, max_cluster_rows=10
        ).collect()
    path = str(tmp_path / "semidx")
    stage_semantic_index(
        emb.filter("vec_id < 400"), "vec_id", "embedding", cents, path
    )
    with pytest.raises(Exception, match="max_cluster_rows"):
        incremental_semantic_dedup(
            emb.filter("vec_id >= 400"), path, "vec_id", "embedding",
            max_cluster_rows=10, append=False,
        ).collect()


def test_trained_centroids_mode(spark):
    """centroids=None trains ivf k-means; every row must land in exactly
    one cluster and the dup relation stays within clusters."""
    emb = _load(spark)
    marked = semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=4, eps=0.45
    )
    rows = marked.collect()
    assert len(rows) == emb.count()
    assert {r.centroid for r in rows} <= set(range(4))


def test_incremental_matches_full_rebuild(spark, tmp_path):
    """Single-increment equivalence: marks for a new batch against a
    staged index equal the batch rows' marks in a full semantic_dedup
    over (index UNION batch) with the same centroids."""
    from scio_spark.functions.semdedup import (
        incremental_semantic_dedup,
        stage_semantic_index,
    )

    emb = _load(spark)
    rows_ = emb.orderBy("vec_id").collect()
    cents = [list(r.embedding) for r in rows_[:6]]
    hist = emb.filter("vec_id < 400")      # the staged corpus
    batch = emb.filter("vec_id >= 400")    # today's arrivals (larger ids)
    path = str(tmp_path / "semidx")
    stage_semantic_index(hist, "vec_id", "embedding", cents, path)
    inc = {
        int(r.vec_id): (int(r.centroid), int(r.is_dup))
        for r in incremental_semantic_dedup(
            batch, path, "vec_id", "embedding", eps=0.45, append=False
        ).collect()
    }
    full = {
        int(r.vec_id): (int(r.centroid), int(r.is_dup))
        for r in semantic_dedup(
            emb, "vec_id", "embedding", centroids=cents, eps=0.45
        ).collect()
        if r.vec_id >= 400
    }
    assert inc == full and len(inc) == batch.count()


def test_incremental_append_grows_index(spark, tmp_path):
    """append=True adds exactly the surviving batch rows to the index."""
    from scio_spark.functions.semdedup import (
        incremental_semantic_dedup,
        stage_semantic_index,
    )

    emb = _load(spark)
    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(6).collect()]
    hist = emb.filter("vec_id < 400")
    batch = emb.filter("vec_id >= 400")
    path = str(tmp_path / "semidx")
    stage_semantic_index(hist, "vec_id", "embedding", cents, path)
    marked = incremental_semantic_dedup(
        batch, path, "vec_id", "embedding", eps=0.45, append=True
    )
    n_survivors = marked.filter("is_dup = 0").count()
    idx_n = spark.read.parquet(f"{path}/index").count()
    assert idx_n == hist.count() + n_survivors
