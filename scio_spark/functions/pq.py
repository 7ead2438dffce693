"""Product quantization (PQ) — compressed ANN codes with ADC scoring.

Completes the ANN storage ladder (similarity.py brute/LSH/SQ8, ivf.py
coarse lists): product quantization (Jégou, Douze, Schmid, "Product
quantization for nearest neighbor search", public) splits each vector
into ``m`` subspaces and learns a 256-entry k-means codebook per
subspace, so a d-dim float32 vector stores as m BYTES (e.g. 128-dim ×
4 B → 16 B at m=16 — 32× smaller than float32, vs SQ8's 4×). Search uses
asymmetric distance computation (ADC, the ``Adc`` scorer): per query, an
m×256 table of query-subvector · codeword dot products; a corpus code's
approximate score is then m table lookups — no float reconstruction.

Codebooks train on a bounded collected sample (the IVF quantizer
convention); encoding is one GEMM per subspace per Arrow batch. The
searches are compositions of the retrieval core (functions/retrieval.py):
ADC candidates at k·oversample, an exact re-cut where the queries are a
side input, then the exact float rescore and rank — so returned scores
are exact and the codes only gate candidate recall (pinned in tests).
The IVF-PQ searches route and place through ivf.py's ``ivf_candidates``,
the same routing step as the GEMM IVF searches, with the ``Adc`` scorer.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import retrieval as R
from .ivf import (
    _centroids,
    assign_centroid,
    ivf_candidates,
    read_small_json,
    write_small_json,
)


def _kmeans_np(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain Lloyd k-means (numpy) for codebook training: deterministic
    seeded init from data points, empty clusters re-seeded from the
    farthest points."""
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    if len(cent) < k:  # tiny sample: pad with jittered repeats
        pad = cent[rng.choice(len(cent), k - len(cent))]
        cent = np.vstack([cent, pad + rng.normal(0, 1e-6, pad.shape)])
    xsq = (x**2).sum(1)
    for _ in range(iters):
        # argmin ||x−c||² == argmax (x·c − ||c||²/2): O(n·k) memory, not n·k·d
        scores = x @ cent.T - 0.5 * (cent**2).sum(1)
        assign = scores.argmax(1)
        d2_min = xsq - 2.0 * scores.max(1)  # for empty-cluster reseeding
        for j in range(k):
            mask = assign == j
            if mask.any():
                cent[j] = x[mask].mean(0)
            else:
                cent[j] = x[d2_min.argmax()]
    return cent


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 7,
    train_rows_cap: int = 50_000,
) -> np.ndarray:
    """Fit m per-subspace codebooks on a bounded sample. Returns an array
    of shape (m, n_codes, d/m). d must divide by m."""
    sample = corpus.select(vec_col).limit(train_rows_cap).collect()
    x = np.array([r[0] for r in sample], dtype=np.float32)
    return _fit_codebooks(x, m, n_codes, iters, seed)


def _fit_codebooks(
    x: np.ndarray, m: int, n_codes: int, iters: int, seed: int
) -> np.ndarray:
    """Per-subspace k-means over a training matrix (raw vectors for plain
    PQ, residuals for IVFPQ residual mode)."""
    d = x.shape[1]
    if d % m:
        raise ValueError(f"pq: dim {d} not divisible by m={m}")
    sub = d // m
    books = np.empty((m, n_codes, sub), dtype=np.float32)
    for j in range(m):
        books[j] = _kmeans_np(
            x[:, j * sub : (j + 1) * sub].astype(np.float64), n_codes, iters, seed + j
        ).astype(np.float32)
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """(id, pq_code binary): m bytes per vector — the stored index."""
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    def gen(batches):
        books = bc.value
        for pdf in batches:
            codes = _pq_codes(R._mat(pdf[vec_col], np.float32), books)
            yield pd.DataFrame(
                {id_col: pdf[id_col], code_col: [c.tobytes() for c in codes]}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} long, {code_col} binary"
    )


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """uint8 PQ codes (rows × m) of a float32 matrix: per subspace, the
    nearest codeword — argmin ||xs − c||² == argmax (xs·c − ||c||²/2)."""
    m, _, sub = books.shape
    codes = np.empty((len(x), m), dtype=np.uint8)
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        codes[:, j] = (xs @ books[j].T - 0.5 * (books[j] ** 2).sum(1)).argmax(1)
    return codes


class Adc(R.Gemm):
    """PQ asymmetric-distance scorer: a query block is the per-query
    m × n_codes table of subvector·codeword dots; a corpus block is the
    rows' codes — stored ``pq_code`` bytes, or ``__cv`` vectors encoded
    in-task — and a score is m table lookups (the cut's rows come from
    ``score`` as for ``Gemm``)."""

    def __init__(self, books: np.ndarray):
        self.books = books

    def queries(self, vecs) -> np.ndarray:
        m, _, sub = self.books.shape
        q = R._mat(vecs, np.float32)
        return np.einsum("qjs,jcs->qjc", q.reshape(len(q), m, sub), self.books)

    def corpus(self, pdf) -> np.ndarray:
        if "pq_code" in pdf:
            return np.frombuffer(b"".join(pdf["pq_code"]), dtype=np.uint8).reshape(
                len(pdf), self.books.shape[0]
            )
        return _pq_codes(R._mat(pdf["__cv"], np.float32), self.books)

    def score(self, tabs: np.ndarray, codes: np.ndarray) -> np.ndarray:
        # scores[q, row] = Σ_j tabs[q, j, codes[row, j]]
        return tabs[:, np.arange(codes.shape[1])[None, :], codes].sum(-1)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 8,
    score_decimals: int | None = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Top-k cosine via PQ/ADC candidates + exact float rescore. Output
    contract matches cosine_topk: (query_id, neighbor_id, score, rank)
    with EXACT scores; the m-byte codes only gate candidate recall."""
    qs = R.side_input(
        R.as_queries(queries, id_col, vec_col), max_query_rows,
        "cosine_topk_pq", "max_query_rows",
    )
    c = R.as_corpus(corpus, id_col, vec_col)
    cands = R.scan(c, qs, Adc(codebooks), k * oversample + 1, 0.0)
    return R.exact_topk(cands, qs, c, k, score_decimals)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    oversample: int = 8,
    seed: int = 42,
    score_decimals: int | None = 5,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ — the full FAISS-style composition: coarse k-means routing
    (only the ``n_probe`` nearest inverted lists per query are touched,
    from ivf.py) with PQ/ADC scoring inside each probed list (m-byte codes,
    table lookups — from this module) and an exact float rescore of the
    surviving candidates. Corpus work per query drops by ~n_probe/n_clusters
    AND each scored vector costs m byte-lookups instead of d multiplies —
    the two savings are independent and multiply. Output contract matches
    cosine_topk (exact scores on survivors)."""
    cents = _centroids(corpus, vec_col, n_clusters, seed, 1.0)
    c = R.as_corpus(corpus, id_col, vec_col)
    cands, qs, _ = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, c,
        Adc(codebooks), k * oversample + 1, 0.0, "cosine_topk_ivfpq",
        max_query_rows=max_query_rows,
    )
    return R.exact_topk(cands, qs, c, k, score_decimals)


def cosine_topk_pq_streamed(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 8,
    score_decimals: int | None = 5,
    max_index_rows: int = 50_000_000,
) -> DataFrame:
    """cosine_topk_pq for CORPUS-SCALE query workloads: queries stay a
    DataFrame end to end. The side-input roles invert — the PQ CODES are
    the guarded side input (m bytes/vector, e.g. 64-dim float32 → 8 B at
    m=8, a 32× shrink, under the row+byte budget), and each query Arrow
    batch builds its own ADC tables in-task against the broadcast code
    matrix. This is the FAISS deployment shape: the compressed index is
    the replicated artifact, the query stream is the data. For an index
    too big even as codes, compose IVF routing instead
    (ivf.cosine_topk_ivf_streamed / cosine_topk_ivfpq_streamed)."""
    coded = pq_encode(corpus, codebooks, vec_col, id_col, "pq_code")
    index = R.side_input(
        coded.withColumnRenamed(id_col, "neighbor_id"), max_index_rows,
        "cosine_topk_pq_streamed", "max_index_rows",
    )
    q = R.as_queries(queries, id_col, vec_col)
    cands = R.probe(q, index, Adc(codebooks), k * oversample + 1, 0.0)
    return R.exact_topk(
        cands, q, R.as_corpus(corpus, id_col, vec_col), k, score_decimals
    )


def cosine_topk_ivfpq_streamed(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    oversample: int = 8,
    seed: int = 42,
    score_decimals: int | None = 5,
    corpus_blocks: int = 1,
    max_group_rows: int = 2_000_000,
) -> DataFrame:
    """cosine_topk_ivfpq for CORPUS-SCALE query workloads: the full
    FAISS composition with the queries kept as a DataFrame end to end.
    Only the training artifacts (centroids + codebooks) are broadcast;
    probe routing runs distributed (ivf.probe_centroids) and candidates
    come from the core's salted centroid cogroup, which PQ-encodes each
    corpus block in-task and scores it against ADC tables of its probing
    queries (per-task memory bounded by ``corpus_blocks`` /
    ``max_group_rows``, retrieval.cogroup)."""
    cents = _centroids(corpus, vec_col, n_clusters, seed, 1.0)
    c = R.as_corpus(corpus, id_col, vec_col)
    cands, q, _ = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, c,
        Adc(codebooks), k * oversample + 1, 0.0, "cosine_topk_ivfpq_streamed",
        True, corpus_blocks=corpus_blocks, max_group_rows=max_group_rows,
    )
    return R.exact_topk(cands, q, c, k, score_decimals)


def build_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 7,
    train_rows_cap: int = 50_000,
) -> np.ndarray:
    """Persist a PQ index: codebooks as JSON beside ``path`` (the
    broadcast-sized training artifact, the ivf.build_ivf_index convention)
    and one parquet row per vector carrying (id, pq_code, vector) — the
    FAISS IndexRefineFlat layout. Storing the raw vector IN the index
    keeps search self-contained while costing nothing at scan time:
    parquet is columnar, so the ADC candidate pass reads only
    (id, pq_code) — m+8 bytes/row, e.g. 16 B at m=8 vs 264 B for a
    64-dim float32 row — and the exact rescore reads the vector column
    for candidate rows alone. Returns the trained codebooks."""
    spark = corpus.sparkSession
    books = train_pq_codebooks(
        corpus, vec_col, m, n_codes, iters, seed, train_rows_cap
    )
    write_small_json(
        spark, path.rstrip("/") + "__codebooks",
        {"codebooks": json.dumps(books.tolist())},
    )
    _encode_with_vec(corpus, books, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(path)
    return books


def load_pq_codebooks(spark, path: str) -> np.ndarray:
    """Read back the codebooks persisted by build_pq_index."""
    meta = read_small_json(spark, path.rstrip("/") + "__codebooks")
    return np.array(json.loads(meta["codebooks"]), dtype=np.float32)


def _encode_with_vec(
    df: DataFrame,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
    passthrough: tuple[str, ...] = (),
    residual_cents: np.ndarray | None = None,
) -> DataFrame:
    """(id, pq_code, vector[, passthrough...]) index rows — pq_encode plus
    the original vector column (type preserved so stored vectors rescore
    bit-identically to the source table) and any ``passthrough`` columns
    (e.g. the IVFPQ centroid assignment). With ``residual_cents`` the
    codes quantize the RESIDUAL x − centroid[assignment] (classic IVFPQ;
    requires 'centroid' in passthrough) — the stored vector column stays
    the raw vector either way."""
    vec_type = df.schema[vec_col].dataType.simpleString()
    extra = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in passthrough
    )
    bc = df.sparkSession.sparkContext.broadcast((books, residual_cents))

    def gen(batches):
        bks, rcents = bc.value
        for pdf in batches:
            x = R._mat(pdf[vec_col], np.float32)
            if rcents is not None and len(x):
                x = x - rcents[pdf["centroid"].to_numpy()]
            codes = _pq_codes(x, bks)
            out = {
                id_col: pdf[id_col],
                "pq_code": [c.tobytes() for c in codes],
                vec_col: pdf[vec_col],
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, pq_code binary, {vec_col} {vec_type}"
    if extra:
        schema += ", " + extra
    return df.select(id_col, vec_col, *passthrough).mapInPandas(gen, schema)


def append_pq_index(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a vector batch to a persisted PQ index WITHOUT retraining —
    the PQ sibling of ivf.append_ivf_index and the incremental dedup
    index flows: load the stored codebooks (frozen quantizer, the FAISS
    maintenance model), encode ONLY the batch (one broadcast-GEMM
    mapInPandas pass over O(batch) rows), append parquet. Cost scales
    with the batch, never the index; rebuild on distribution drift,
    append otherwise. Search correctness is unaffected — ADC candidate
    recall drifts only with codebook fit, and the exhaustive regime
    stays provably exact."""
    books = load_pq_codebooks(spark, path)
    _encode_with_vec(new_vecs, books, id_col, vec_col).write.mode(
        "append"
    ).parquet(path)


def search_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 8,
    score_decimals: int | None = 5,
    streamed: bool = False,
    max_query_rows: int = 100_000,
    max_index_rows: int = 50_000_000,
) -> DataFrame:
    """Top-k cosine over a PERSISTED PQ index (build_pq_index /
    append_pq_index): ADC candidates from the column-pruned (id, pq_code)
    scan — m+8 bytes per corpus row, never the float vectors — then the
    exact rescore reading the index's vector column for candidate rows
    only. Output contract matches cosine_topk; with k·oversample ≥ index
    rows the candidate pass is exhaustive and the result is provably
    exact top-k (the contract-query regime; at production oversample the
    recall floor is pinned in tests/test_pq.py).

    Default: the query set is the guarded side input (``max_query_rows``)
    whose ADC tables are broadcast into the code scan, and the ADC
    candidates get the core's exact re-cut (retrieval.refine) before the
    fold rescore. ``streamed=True`` inverts the roles — the m-byte code
    matrix is the guarded side input (``max_index_rows``) and the query
    workload stays a DataFrame, each Arrow batch building its own ADC
    tables in-task (for an index too big even as codes, route through
    search_ivfpq_index instead)."""
    books = load_pq_codebooks(spark, path)
    idx = spark.read.parquet(path)
    coded = idx.select(F.col(id_col).alias("neighbor_id"), "pq_code")
    vectors = R.as_corpus(idx, id_col, vec_col)
    keep = k * oversample + 1
    if streamed:
        index = R.side_input(coded, max_index_rows, "search_pq_index", "max_index_rows")
        q = R.as_queries(queries, id_col, vec_col)
        cands = R.probe(q, index, Adc(books), keep, 0.0)
    else:
        q = R.side_input(
            R.as_queries(queries, id_col, vec_col), max_query_rows,
            "search_pq_index", "max_query_rows",
        )
        cands = R.refine(
            R.scan(coded, q, Adc(books), keep, 0.0), q, vectors, k,
            R.cut_margin(score_decimals),
        )
    return R.exact_topk(cands, q, vectors, k, score_decimals)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 10,
    seed: int = 42,
    sample_fraction: float = 1.0,
    max_iter: int = 8,
    train_rows_cap: int = 50_000,
    residual: bool = False,
):
    """Persist the full FAISS-style IVF-PQ index: coarse centroids AND PQ
    codebooks as JSON beside ``path`` (both broadcast-sized training
    artifacts, fit on bounded samples), and one parquet row per vector
    carrying (id, pq_code, vector) PARTITIONED BY its coarse centroid.
    Search gets both prunings multiplied: probing touches only n_probe
    partition directories (ivf.build_ivf_index's layout) and the ADC scan
    inside them reads only the m-byte code column (build_pq_index's
    columnar cut) — at 100 TB the scan cost per query drops by
    ~(n_probe/n_clusters)·(m+8)/(8+4·dim) versus brute force over raw
    vectors. Returns (centroids, codebooks).

    ``residual=True`` quantizes x − centroid[assignment] instead of x
    (classic IVFPQ, Jégou et al. §IV): on clustered data the residual
    cloud is tighter than the raw vectors, so the same m bytes buy a
    finer quantizer and better ADC candidate recall (pinned on a blob
    fixture in tests/test_pq.py). Search scoring needs NO change: within
    one inverted list q·x = q·centroid + q·residual differs from the
    residual-ADC estimate by a per-list constant, and every candidate
    cut in this module is per-list, so candidate sets — and the exact
    rescore on raw vectors — are computed identically."""
    spark = corpus.sparkSession
    cents = _centroids(
        corpus, vec_col, n_clusters, seed, sample_fraction, max_iter,
        train_rows_cap=train_rows_cap,
    )
    cmat = np.array(cents, dtype=np.float32)
    sample = corpus.select(vec_col).limit(train_rows_cap).collect()
    x = np.array([r[0] for r in sample], dtype=np.float32)
    if residual:  # train_pq_codebooks on the residuals
        x = x - cmat[np.argmax(x @ cmat.T, axis=1)]
    books = _fit_codebooks(x, m, n_codes, iters, seed)
    assigned = assign_centroid(corpus.select(id_col, vec_col), vec_col, cents)
    _encode_with_vec(
        assigned, books, id_col, vec_col, passthrough=("centroid",),
        residual_cents=cmat if residual else None,
    ).write.mode("overwrite").partitionBy("centroid").parquet(path)
    write_small_json(
        spark, path.rstrip("/") + "__meta",
        {"centroids": json.dumps(cents), "codebooks": json.dumps(books.tolist()),
         "residual": "1" if residual else "0"},
    )
    return cents, books


def _load_ivfpq_meta(spark, path: str):
    """(centroids, codebooks, residual) persisted by build_ivfpq_index.
    Pre-residual indexes have no 'residual' field — treated as raw."""
    meta = read_small_json(spark, path.rstrip("/") + "__meta")
    residual = meta.get("residual") == "1"
    return (
        json.loads(meta["centroids"]),
        np.array(json.loads(meta["codebooks"]), dtype=np.float32),
        residual,
    )


def append_ivfpq_index(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a vector batch to a persisted IVF-PQ index WITHOUT
    retraining (frozen coarse quantizer AND codebooks — the FAISS
    maintenance model shared with append_ivf_index / append_pq_index):
    assign + encode ONLY the batch, append centroid-partitioned files.
    Cost scales with the batch, never the index; rebuild on distribution
    drift, append otherwise."""
    cents, books, residual = _load_ivfpq_meta(spark, path)
    assigned = assign_centroid(new_vecs.select(id_col, vec_col), vec_col, cents)
    _encode_with_vec(
        assigned, books, id_col, vec_col, passthrough=("centroid",),
        residual_cents=np.array(cents, dtype=np.float32) if residual else None,
    ).write.mode("append").partitionBy("centroid").parquet(path)


def search_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    oversample: int = 8,
    score_decimals: int | None = 5,
    streamed: bool = False,
    max_query_rows: int = 100_000,
    corpus_blocks: int = 1,
    max_group_rows: int = 2_000_000,
) -> DataFrame:
    """Top-k cosine over a persisted IVF-PQ index: probe routing prunes
    to n_probe centroid PARTITIONS, ADC candidates come from the
    column-pruned (id, centroid, pq_code) scan of those partitions alone,
    and the exact rescore reads the vector column for candidate rows of
    the probed partitions only. With n_probe = n_clusters and
    k·oversample ≥ the largest inverted list the result is provably
    exact top-k (the contract-query regime).

    Default: the query set is the guarded side input, routed driver-side
    into per-centroid ADC tables, and the candidates get the exact re-cut
    as in search_pq_index. ``streamed=True`` keeps queries a DataFrame
    end to end — distributed probe routing (ivf.probe_centroids) + the
    core's salted centroid cogroup over the stored codes, so only the two
    training artifacts are ever broadcast."""
    # residual mode changes only how codes were TRAINED/encoded; within one
    # inverted list q·x and the residual-ADC estimate differ by a per-list
    # constant and every cut here is per list, so search needs no branch.
    cents, books, _residual = _load_ivfpq_meta(spark, path)
    cands, q, idx = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, path,
        Adc(books), k * oversample + 1, 0.0, "search_ivfpq_index", streamed,
        max_query_rows, corpus_blocks, max_group_rows,
        (F.col(id_col).alias("neighbor_id"), "centroid", "pq_code"),
    )
    vectors = R.as_corpus(idx, id_col, vec_col)
    if not streamed:
        cands = R.refine(cands, q, vectors, k, R.cut_margin(score_decimals))
    return R.exact_topk(cands, q, vectors, k, score_decimals)
