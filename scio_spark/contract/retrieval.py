"""Embedding retrieval contract queries: brute-force, LSH, IVF, HNSW and
PQ top-k searches with their persisted indexes, embedding dedup and
semantic dedup (batch and incremental)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from scio_spark.contract._common import _ctx, _rt_path, _t


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for a 10% query sample vs the full corpus
    (functions/similarity.py cosine_topk — the ANN correctness baseline)."""
    from scio_spark.functions import similarity as S

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    qs = emb.filter("vec_id % 10 = 0")
    return S.cosine_topk(emb, qs, k=3)


ORACLE_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ 0.4 (similarity.embedding_dedup_pairs)
    — the 5th dedup family."""
    from scio_spark.functions.similarity import embedding_dedup_pairs

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    return embedding_dedup_pairs(emb, threshold=0.4)


ORACLE_DEDUP_EMBEDDING = """
WITH pairs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(a.embedding)),
                            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
)
SELECT id_1, id_2, score FROM pairs WHERE score >= 0.4
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via banded hyperplane LSH + exact rescore
    (similarity.embedding_dedup_pairs_lsh) — the sub-quadratic 100 TB path
    for the 5th dedup family (the exact O(n²) anchor is its own contract
    row, dedup_embedding). 16 bands × 8 bits: candidate rate ≈7% of all
    pairs on this corpus vs 100% for the exact operator, and precision is
    exact because candidates are rescored with the deterministic
    sequential-fold dot. The md5-derived ±1 hyperplanes are replayed
    bit-for-bit by the oracle (same family as ann_lsh), so the banded
    candidate construction itself is value-checked, not just the rescore.
    8-bit bands are sized for the contract corpus (10³–10⁴ rows); at
    larger n, band_bits grows ≈log2(n/bucket) to hold the random-collision
    candidate volume — see the scale rule on embedding_dedup_pairs_lsh.
    Reference analog: Voyager-style candidate probing,
    scio-extra/src/main/scala/com/spotify/scio/extra/voyager/syntax/SCollectionSyntax.scala:47-215."""
    from scio_spark.functions.similarity import embedding_dedup_pairs_lsh

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    return embedding_dedup_pairs_lsh(emb, threshold=0.4, bands=16, band_bits=8)


def _embedding_lsh_oracle(
    bands: int = 16, band_bits: int = 8, thr: float = 0.4, extra_pred: str = ""
) -> str:
    """DuckDB replay of the md5 hyperplane family of
    embedding_dedup_pairs_lsh / band_signatures: plane i (= band·band_bits
    + k), dim j → sign = +1 iff hex char 4 of md5(f"{i}:{j}") is odd; band
    sig = Σ bit_k·2^k; candidates = pairs sharing ≥1 (band, sig) (plus
    ``extra_pred`` — e.g. the ≥1-new-side restriction of the incremental
    path); score = ordered-fold dot, rounded then filtered. A composable
    renderer so the one-shot and incremental oracles share one template
    instead of string-slicing rendered SQL."""
    return f"""
WITH sig AS (
  SELECT e.vec_id, b.band,
    list_reduce(list_transform(generate_series(0, {band_bits - 1}), k ->
      CASE WHEN list_reduce(list_transform(generate_series(1, 64), j ->
             CAST(e.embedding[j] AS DOUBLE) *
             (CASE WHEN (instr('0123456789abcdef',
                 substr(md5(CAST(b.band * {band_bits} + k AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 4, 1)) - 1) % 2 = 1
              THEN 1.0 ELSE -1.0 END)),
           (acc, x) -> acc + x) >= 0
      THEN CAST(POW(2, k) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      (acc, x) -> acc + x) AS sig
  FROM embeddings e CROSS JOIN (SELECT UNNEST(generate_series(0, {bands - 1})) AS band) b
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id{extra_pred}
),
scored AS (
  SELECT c.id_1, c.id_2,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(ea.embedding)),
                            i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM cands c
  JOIN embeddings ea ON ea.vec_id = c.id_1
  JOIN embeddings eb ON eb.vec_id = c.id_2
)
SELECT id_1, id_2, score FROM scored WHERE score >= {thr}
"""


ORACLE_DEDUP_EMBEDDING_LSH = _embedding_lsh_oracle()


def q_incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup (similarity.stage_embedding_lsh_index +
    incremental_embedding_dedup): the corpus (vec_id % 5 != 0) is staged
    ONCE as a (band, sig)-bucketed signature index; the daily batch
    (vec_id % 5 = 0) signs itself and joins the index co-located — O(batch)
    per ingestion, the corpus is never re-signed. Verified pairs (exact
    fold-rescore ≥ 0.4) with ≥1 new side; the oracle recomputes them from
    the whole corpus, which equals the staged path because banding is
    per-row (pinned by the full-rebuild equivalence test). The vector
    analog of the incremental_dedup contract row."""
    from scio_spark.functions.similarity import (
        incremental_embedding_dedup,
        stage_embedding_lsh_index,
    )

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    new = emb.filter("vec_id % 5 = 0")
    corpus = emb.filter("vec_id % 5 != 0")
    # 16 buckets: the contract-scale index is ~10⁴-10⁵ signature rows, so
    # 64 bucket files would be write-overhead, not parallelism (the
    # operator default stays 64 for real corpora)
    idx = stage_embedding_lsh_index(corpus, "emb_lsh_index_contract", buckets=16)
    return incremental_embedding_dedup(new, idx, emb, threshold=0.4)


ORACLE_INCREMENTAL_EMBEDDING = _embedding_lsh_oracle(
    extra_pred=" AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)"
)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane LSH buckets (similarity.cosine_topk_lsh).
    Oracle-checked: the hyperplanes are deterministic md5-derived ±1
    literals, so DuckDB recomputes the SAME 4-bit signatures and the
    same-bucket top-3 is exactly reproducible (scores exact-fold, rounded
    before ranking). Recall vs brute force pinned in tests/test_llm_ops.py."""
    from scio_spark.functions.similarity import cosine_topk_lsh

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    # Bounded query WORKLOAD against a growing corpus (the production
    # shape): with both sides growing, fixed-bit LSH candidates are
    # Θ(n_q·n_c/2^bits) — measured e≈1.5 at sf0.1→sf1 before the bound.
    qs = emb.filter("vec_id % 10 = 0 AND vec_id < 2000")
    return cosine_topk_lsh(emb, qs, k=3, bits=4, score_decimals=5)


# DuckDB replays the md5 hyperplane family of similarity.hyperplane_signature:
# sign_ij = +1 iff int(md5(f"{i}:{j}")[:4], 16) is odd — the parity of hex
# char 4 — and the projection is the same sequential left-fold dot product.
ORACLE_ANN_LSH = """
WITH sig AS (
  SELECT vec_id, embedding,
    list_reduce(list_transform(generate_series(0, 3), i ->
      CASE WHEN list_reduce(list_transform(generate_series(1, 64), j ->
             CAST(embedding[j] AS DOUBLE) *
             (CASE WHEN (instr('0123456789abcdef',
                 substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 4, 1)) - 1) % 2 = 1
              THEN 1.0 ELSE -1.0 END)),
           (acc, x) -> acc + x) >= 0
      THEN CAST(POW(2, i) AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      (acc, x) -> acc + x) AS bucket
  FROM embeddings
),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id % 10 = 0 AND q.vec_id < 2000
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF k-means ANN (functions/ivf.py), run with n_probe = n_clusters so
    every inverted list is searched: exercises the full pipeline (KMeans
    train → broadcast-GEMM assignment → probe routing → list semi-join →
    exact-fold re-rank) while the output equals exact top-3 — oracle-checked.
    The approximate regime (n_probe < n_clusters) is recall-pinned in
    tests/test_ann_simhash64.py."""
    from scio_spark.functions.ivf import cosine_topk_ivf

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    qs = emb.filter("vec_id % 10 = 0")
    return cosine_topk_ivf(
        emb, qs, k=3, n_clusters=8, n_probe=8, sample_fraction=0.5,
        score_decimals=5,
        # probing every list makes the result exact regardless of centroid
        # quality — train cheap (2 local Lloyd iterations on the bounded
        # collected sample, the faiss-style default)
        max_iter=2,
    )


def q_ann_ivf_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (ivf.append_ivf_index — the ANN
    sibling of incremental_dedup / incremental_embedding_dedup): vectors
    with vec_id < 300 are the staged historical index (built once,
    centroid-partitioned parquet, frozen quantizer), the rest arrive as
    today's batch and are APPENDED with one O(batch) assignment pass —
    existing index files are never rewritten (pinned in
    tests/test_ann_streamed.py). Search runs in the exact regime
    (n_probe = n_clusters probes every list), so the result over the
    appended index equals brute-force top-3 over the full table and the
    oracle is plain SQL."""
    import uuid

    from scio_spark.functions.ivf import (
        append_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df.select("vec_id", "embedding")
    path = _rt_path(sf_dir, f"ivf_index_{uuid.uuid4().hex}")
    build_ivf_index(
        emb.filter("vec_id < 300"), path, n_clusters=8, max_iter=2
    )
    append_ivf_index(spark, path, emb.filter("vec_id >= 300"))
    qs = emb.filter("vec_id % 10 = 1")
    return search_ivf_index(
        spark, path, qs, k=3, n_probe=8, score_decimals=5
    )


ORACLE_ANN_IVF_APPENDED = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 10 = 1),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_ivf_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-queries IVF ANN (ivf.cosine_topk_ivf_streamed): the same
    training/probing parameters as q_ann_ivf, but the query workload stays
    a DataFrame end to end — probe routing is a distributed mapInPandas
    against broadcast centroids and candidates come from a
    centroid-cogrouped GEMM, so nothing query-sized touches the driver
    (the corpus-scale deployment shape; parity with the collected path is
    pinned in tests/test_ann_streamed.py). n_probe = n_clusters makes the
    output exact top-3, so it shares the exact oracle."""
    from scio_spark.functions.ivf import cosine_topk_ivf_streamed

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df
    qs = emb.filter("vec_id % 10 = 0")
    return cosine_topk_ivf_streamed(
        emb, qs, k=3, n_clusters=8, n_probe=8, sample_fraction=0.5,
        score_decimals=5, max_iter=2,
    )


def q_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW graph ANN (functions/hnsw.py, pure numpy — Voyager parity,
    scio-extra voyager SCollectionSyntax.scala:47-215), run in the
    exhaustive regime: ef = corpus size makes the beam visit every node
    (layer-0 connectivity is repaired at build), and exact_rescore moves
    scoring/ranking JVM-side (sequential-fold dot, round-before-rank) —
    so the output equals exact top-3 and is value-oracled while the real
    graph build + beam walk is exercised end to end (the same
    exact-regime pattern as q_ann_ivf's n_probe = n_clusters). The
    approximate regime (ef=64) is recall-pinned in tests/test_hnsw.py.

    The corpus is pinned to a BOUNDED reference set (vec_id < 2000 —
    the whole table at the driver-gate SFs): an HNSW index is a
    side input by contract, and the exhaustive-exact regime walks
    O(corpus) nodes per query, so the query's cost must not grow with
    the table (corpus-scale ANN is the IVF/LSH paths, which do scale
    in the bench)."""
    from scio_spark.functions.similarity import cosine_topk_hnsw

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df.filter("vec_id < 2000")
    qs = emb.filter("vec_id % 10 = 3")
    # ef_construction=32: in the exhaustive regime the beam visits every
    # reachable node and connectivity is repaired at build, so the output
    # is exact top-3 INDEPENDENT of graph quality — build effort buys
    # nothing here (3x build-time cut, identical rows; the user-facing
    # ef=64 approximate regime keeps the 200 default and its recall pins)
    return cosine_topk_hnsw(
        emb, qs, k=3, ef_construction=32, ef_search=None,
        exact_rescore=True, score_decimals=5,
    )


ORACLE_ANN_HNSW = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 10 = 3 AND vec_id < 2000),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id AND c.vec_id < 2000
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_hnsw_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded HNSW ANN (similarity.cosine_topk_hnsw_sharded — VERDICT r14
    ask #7): removes cosine_topk_hnsw's side-input bound by building one
    HNSW sub-graph per corpus shard INSIDE a cogrouped task (corpus sharded
    on pmod(xxhash64(id), n_shards), queries replicated to every shard) and
    merging per-shard top-k. Run in the exhaustive + exact_rescore regime
    (per-shard beam = shard size), where the per-shard-top-k union provably
    contains the global top-k — so the output equals exact top-3 and is
    value-oracled while the real shard-build + beam walk + merge is
    exercised end to end (same exact-regime pattern as q_ann_hnsw).
    Parity at several shard counts and the approximate-regime recall are
    pinned in tests/test_hnsw.py. The corpus cap here bounds QUERY-side
    work only (exhaustive beams are O(corpus) per query by design); the
    operator itself has no side-input bound."""
    from scio_spark.functions.similarity import cosine_topk_hnsw_sharded

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df.filter("vec_id < 2000")
    qs = emb.filter("vec_id % 10 = 7")
    return cosine_topk_hnsw_sharded(
        emb, qs, k=3, ef_construction=32, ef_search=None,
        exact_rescore=True, score_decimals=5, n_shards=3,
    )


ORACLE_ANN_HNSW_SHARDED = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 10 = 7 AND vec_id < 2000),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id AND c.vec_id < 2000
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted PQ index lifecycle (pq.build_pq_index / append_pq_index /
    search_pq_index — the compressed sibling of q_ann_ivf_appended,
    completing the index-maintenance family): vectors with vec_id < 300
    are the staged index (codebooks trained once, frozen quantizer,
    (id, pq_code, vector) parquet in the FAISS IndexRefineFlat layout),
    the rest append as today's batch with one O(batch) encode pass.
    Search scans only the column-pruned m-byte codes for ADC candidates
    (16 B/row vs 264 B of raw float32 at dim 64 — pinned in
    tests/test_pq.py) and exact-rescores against the index's vector
    column. Run exhaustive (k·oversample ≥ index rows), so the result
    equals brute-force top-3 and the oracle is plain SQL; production
    oversample recall is pinned in tests/test_pq.py. The vec_id < 2000
    cap bounds the exhaustive fixture, not the operator."""
    import uuid

    from scio_spark.functions.pq import (
        append_pq_index,
        build_pq_index,
        search_pq_index,
    )

    sc = _ctx(spark)
    emb = (
        _t(sc, sf_dir, "embeddings").df
        .select("vec_id", "embedding").filter("vec_id < 2000")
    )
    path = _rt_path(sf_dir, f"pq_index_{uuid.uuid4().hex}")
    build_pq_index(
        emb.filter("vec_id < 300"), path, m=8, n_codes=16, iters=4
    )
    append_pq_index(spark, path, emb.filter("vec_id >= 300"))
    qs = emb.filter("vec_id % 40 = 2")
    return search_pq_index(
        spark, path, qs, k=3, oversample=700, score_decimals=5
    )


ORACLE_ANN_PQ_INDEX = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 40 = 2 AND vec_id < 2000),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id AND c.vec_id < 2000
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_ann_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index lifecycle (pq.build_ivfpq_index /
    append_ivfpq_index / search_ivfpq_index — the full FAISS composition
    persisted: coarse centroids + PQ codebooks as frozen training
    artifacts, (id, pq_code, vector) parquet PARTITIONED BY centroid):
    vec_id < 300 is the staged index, the rest appends with one O(batch)
    assign+encode pass. Search multiplies both prunings — probing touches
    only n_probe partition directories AND the ADC scan reads only the
    m-byte code column (both pinned by plan tests in tests/test_pq.py).
    Run exhaustive (n_probe = n_clusters, k·oversample ≥ largest list) so
    the result equals brute-force top-3 and the oracle is plain SQL;
    the index is built in RESIDUAL mode (codes quantize x − centroid —
    exhaustive exactness is mode-independent, so the driver row covers
    the deeper path). Production-parameter recall and the streamed
    (salted cogroup) parity are pinned in tests/test_pq.py."""
    import uuid

    from scio_spark.functions.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    sc = _ctx(spark)
    emb = (
        _t(sc, sf_dir, "embeddings").df
        .select("vec_id", "embedding").filter("vec_id < 2000")
    )
    path = _rt_path(sf_dir, f"ivfpq_index_{uuid.uuid4().hex}")
    build_ivfpq_index(
        emb.filter("vec_id < 300"), path, n_clusters=8, m=8, n_codes=16,
        iters=4, max_iter=2, residual=True,
    )
    append_ivfpq_index(spark, path, emb.filter("vec_id >= 300"))
    qs = emb.filter("vec_id % 40 = 3")
    return search_ivfpq_index(
        spark, path, qs, k=3, n_probe=8, oversample=700, score_decimals=5
    )


ORACLE_ANN_IVFPQ_INDEX = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 40 = 3 AND vec_id < 2000),
s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         ROUND(list_reduce(
             list_transform(generate_series(1, len(c.embedding)),
                            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
             (acc, x) -> acc + x), 5) AS score
  FROM embeddings c, q WHERE c.vec_id != q.query_id AND c.vec_id < 2000
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 3
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — cluster-scoped semantic dedup over the embeddings table
    (Abbas et al. 2023; functions/semdedup.py; beyond-reference member of
    the dedup family beside MinHash/SimHash/embedding-LSH): assign every
    vector to its nearest of 8 deterministic centroids (the 8 smallest
    vec_ids — the oracle mode; production trains ivf k-means), then mark
    items having a smaller-id neighbor at cosine >= 0.45 WITHIN their
    cluster only — O(Σ cluster²) instead of O(n²). Decision margins on
    this corpus (nearest-centroid >= 4e-4, |cos-eps| >= 5e-4) sit many
    orders above float64 round-off, so the numpy-GEMM path replays
    exactly in DuckDB's list_cosine_similarity."""
    from scio_spark.functions.semdedup import (
        semantic_dedup,
        semantic_dedup_stats,
    )

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df.select("vec_id", "embedding")
    cents = [
        list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    marked = semantic_dedup(
        emb, "vec_id", "embedding", centroids=cents, eps=0.45
    )
    return semantic_dedup_stats(marked)


ORACLE_SEMANTIC_DEDUP = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
c2 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cid) - 1 AS INTEGER) AS centroid,
         cv
  FROM c0
),
asg AS (
  SELECT vec_id, v, centroid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY list_cosine_similarity(v, cv) DESC, centroid) AS rk
  FROM e CROSS JOIN c2
),
a AS (SELECT vec_id, v, centroid FROM asg WHERE rk = 1),
d AS (
  SELECT a1.vec_id, a1.centroid,
         COALESCE(MAX(CASE WHEN list_cosine_similarity(a1.v, a2.v) >= 0.45
                           THEN 1 ELSE 0 END), 0) AS is_dup
  FROM a a1 LEFT JOIN a a2
    ON a1.centroid = a2.centroid AND a2.vec_id < a1.vec_id
  GROUP BY a1.vec_id, a1.centroid
)
SELECT centroid, COUNT(*) AS n_items,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN is_dup = 1 THEN vec_id ELSE 0 END) AS BIGINT)
         AS dup_id_sum
FROM d GROUP BY centroid
"""


def q_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (functions/semdedup.py stage_semantic_index /
    incremental_semantic_dedup — the embedding sibling of the MinHash and
    ExactSubstr incremental indexes): vectors with vec_id < 400 are the
    staged historical corpus (centroid-partitioned index, frozen
    centroids), the rest arrive as today's batch and are marked reading
    ONLY the pruned cluster partitions. Because index ids precede batch
    ids, the batch marks equal a full rebuild's marks restricted to the
    batch (pinned in tests), so the oracle is the semantic_dedup SQL
    filtered to batch ids."""
    import uuid

    from scio_spark.functions.semdedup import (
        incremental_semantic_dedup,
        semantic_dedup_stats,
        stage_semantic_index,
    )

    sc = _ctx(spark)
    emb = _t(sc, sf_dir, "embeddings").df.select("vec_id", "embedding")
    cents = [
        list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()
    ]
    hist = emb.filter("vec_id < 400")
    batch = emb.filter("vec_id >= 400")
    path = _rt_path(sf_dir, f"sem_index_{uuid.uuid4().hex}")
    stage_semantic_index(hist, "vec_id", "embedding", cents, path)
    marked = incremental_semantic_dedup(
        batch, path, "vec_id", "embedding", eps=0.45, append=False
    )
    return semantic_dedup_stats(marked)


ORACLE_SEMANTIC_DEDUP_INCREMENTAL = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
c2 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cid) - 1 AS INTEGER) AS centroid,
         cv
  FROM c0
),
asg AS (
  SELECT vec_id, v, centroid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY list_cosine_similarity(v, cv) DESC, centroid) AS rk
  FROM e CROSS JOIN c2
),
a AS (SELECT vec_id, v, centroid FROM asg WHERE rk = 1),
d AS (
  SELECT a1.vec_id, a1.centroid,
         COALESCE(MAX(CASE WHEN list_cosine_similarity(a1.v, a2.v) >= 0.45
                           THEN 1 ELSE 0 END), 0) AS is_dup
  FROM a a1 LEFT JOIN a a2
    ON a1.centroid = a2.centroid AND a2.vec_id < a1.vec_id
  WHERE a1.vec_id >= 400
  GROUP BY a1.vec_id, a1.centroid
)
SELECT centroid, COUNT(*) AS n_items,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN is_dup = 1 THEN vec_id ELSE 0 END) AS BIGINT)
         AS dup_id_sum
FROM d GROUP BY centroid
"""
