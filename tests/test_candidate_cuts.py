"""Candidate-cut tie/rounding safety (ADVICE r14 + VERDICT r14 ask #4).

Every ANN candidate stage used to cut per-query top-(k+4) by RAW GEMM score
with np.argpartition (arbitrary tie order) while the FINAL ranking sorts by
ROUNDED score desc, neighbor_id asc. With >= k+4 tied or near-tied scores
(duplicate embeddings — the norm in a dedup corpus) or score_decimals
rounding creating ties across the cut, a true top-k row could be silently
dropped. retrieval.keep_candidates + cut_margin close the class; these
tests plant the exact boundary shapes (the 0.399996-cosine pattern found
at sf1 in r14).
"""

import math

import numpy as np
import pytest

from scio_spark.functions.retrieval import cut_margin, keep_candidates


# ---------- unit: the helper itself ----------------------------------------


def test_keep_candidates_keeps_all_ties_at_threshold():
    row = np.array([0.5, 0.9, 0.9, 0.9, 0.9, 0.1])
    idx = set(keep_candidates(row, 2, 0.0))
    # the 2nd-largest is 0.9; every 0.9 must survive regardless of layout
    assert idx == {1, 2, 3, 4}


def test_keep_candidates_margin_widens_cut():
    row = np.array([1.0, 0.99995, 0.5])
    assert set(keep_candidates(row, 1, 0.0)) == {0}
    # a full rounding step at 4 decimals pulls the near-tie back in
    assert set(keep_candidates(row, 1, cut_margin(4))) == {0, 1}


def test_keep_candidates_short_row_keeps_everything():
    row = np.array([0.3, 0.2])
    assert list(keep_candidates(row, 7, 0.0)) == [0, 1]


def test_margin_pairs_chunked_same_rows_and_cross(monkeypatch):
    """The threshold tail's pair kernel: one (id_1 < id_2) row per
    unordered pair at or above the margin, whatever the chunking; an empty
    side scores nothing."""
    from scio_spark.functions import retrieval as R

    ids = np.array([7, 3, 5, 1])
    mat = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.6, 0.8]])
    want_same = {(3, 7), (1, 5), (1, 3), (1, 7)}  # scores 1.0, 0.8, 0.6, 0.6
    for chunk in (R.PAIR_CHUNK, 8, 4):  # 8 entries = two left rows per chunk
        monkeypatch.setattr(R, "PAIR_CHUNK", chunk)
        got = R.margin_pairs(ids, mat, ids, mat, 0.6, same_rows=True)
        assert sorted(map(tuple, got.to_numpy())) == sorted(want_same)
        cross = R.margin_pairs(ids[:2], mat[:2], ids[2:], mat[2:], 0.6, False)
        assert sorted(map(tuple, cross.to_numpy())) == [(1, 3), (1, 7)]
    empty = R.margin_pairs(ids, mat, ids[:0], np.empty(0), 0.0, False)
    assert empty.empty and list(empty.dtypes) == [np.int64, np.int64]


def test_cut_margin_values():
    # 2x eps (ADVICE r15): the kept-vs-dropped compare is between two
    # rescored values, each drifting from its GEMM score in opposite
    # directions at worst — the margin now matches the two-sided bound.
    assert cut_margin(None) == pytest.approx(2e-9)
    assert cut_margin(4) == pytest.approx(1e-4 + 2e-9)


# ---------- planted boundary fixtures ---------------------------------------


def _tie_corpus(spark, scores_by_id):
    """Corpus of unit 16-dim vectors whose cosine against e0 is exactly the
    given score: v = [c, sqrt(1-c^2), 0, ...]."""
    rows = [
        (i, [float(c), math.sqrt(max(0.0, 1.0 - c * c))] + [0.0] * 14)
        for i, c in scores_by_id.items()
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


@pytest.fixture(scope="module")
def rounding_tie(spark):
    """12 corpus rows whose raw scores all round to 0.9999 at 4 decimals,
    with the SMALLEST ids carrying the SMALLEST raw scores — so a raw
    top-(k+4) cut drops exactly the rows the final (rounded desc, id asc)
    order ranks first."""
    corpus = _tie_corpus(
        spark, {i: 0.99990 + i * 1e-6 for i in range(1, 13)}
    )
    queries = spark.createDataFrame(
        [(100, [1.0] + [0.0] * 15)], ["vec_id", "embedding"]
    )
    expected = [(100, 1, 0.9999, 1), (100, 2, 0.9999, 2), (100, 3, 0.9999, 3)]
    return corpus, queries, expected


def _got(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.score, r.rank) for r in df.collect()
    )


def test_cosine_topk_rounding_boundary(rounding_tie):
    from scio_spark.functions.similarity import cosine_topk

    corpus, queries, expected = rounding_tie
    out = cosine_topk(corpus, queries, k=3, score_decimals=4)
    assert _got(out) == expected


def test_cosine_topk_ivf_rounding_boundary(rounding_tie):
    from scio_spark.functions.ivf import cosine_topk_ivf

    corpus, queries, expected = rounding_tie
    out = cosine_topk_ivf(
        corpus, queries, k=3, n_clusters=2, n_probe=2, score_decimals=4,
        max_iter=2,
    )
    assert _got(out) == expected


def test_cosine_topk_ivf_streamed_rounding_boundary(rounding_tie):
    from scio_spark.functions.ivf import cosine_topk_ivf_streamed

    corpus, queries, expected = rounding_tie
    out = cosine_topk_ivf_streamed(
        corpus, queries, k=3, n_clusters=2, n_probe=2, score_decimals=4,
        max_iter=2,
    )
    assert _got(out) == expected


def test_search_ivf_index_rounding_boundary(rounding_tie, tmp_path):
    from scio_spark.functions.ivf import build_ivf_index, search_ivf_index

    corpus, queries, expected = rounding_tie
    spark = corpus.sparkSession
    path = str(tmp_path / "tie_idx")
    build_ivf_index(corpus, path, n_clusters=2, max_iter=2)
    for streamed in (False, True):
        out = search_ivf_index(
            spark, path, queries, k=3, n_probe=2, score_decimals=4,
            streamed=streamed,
        )
        assert _got(out) == expected, f"streamed={streamed}"


def test_exact_duplicate_ties_without_rounding(spark):
    """score_decimals=None, 10 IDENTICAL vectors: raw ties at the cut —
    the winners must still be the smallest ids."""
    from scio_spark.functions.ivf import cosine_topk_ivf_streamed
    from scio_spark.functions.similarity import cosine_topk

    corpus = _tie_corpus(spark, {i: 0.75 for i in range(1, 11)})
    queries = spark.createDataFrame(
        [(100, [1.0] + [0.0] * 15)], ["vec_id", "embedding"]
    )
    for out in (
        cosine_topk(corpus, queries, k=3, score_decimals=None),
        cosine_topk_ivf_streamed(
            corpus, queries, k=3, n_clusters=2, n_probe=2, max_iter=2
        ),
    ):
        got = [(r.neighbor_id, r.rank) for r in out.collect()]
        assert sorted(got) == [(1, 1), (2, 2), (3, 3)]
