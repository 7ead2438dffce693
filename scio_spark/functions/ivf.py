"""IVF (inverted-file) approximate nearest neighbor — the k-means scale path.

A coarse quantizer (k-means centroids) assigns every corpus vector to its
nearest centroid (the "inverted lists"); a search touches only the
``n_probe`` lists nearest to each query. The FAISS-style layout as
DataFrames:

- train: seeded numpy Lloyd on a bounded driver sample (or pyspark.ml
  KMeans), centroids are `n_clusters × dim` floats;
- assign / probe: Arrow-batched numpy GEMM against the broadcast centroid
  matrix (plan size constant in n_clusters);
- persist: a centroid-partitioned parquet table, so a probe is a
  partition-pruned read;
- search: ``ivf_candidates``, the one routing step of every IVF search
  here and every IVF-PQ search in pq.py (only the scorer, the cut and the
  list columns differ): routed broadcast queries (``route_queries`` +
  the core's ``scan``) or distributed probes (``probe_centroids``, plus
  ``probed_centroids`` for a persisted index) in the core's salted
  centroid ``cogroup`` (functions/retrieval.py). The entry points keep
  their own centroids, scorer and tail — the exact rescore and rank.
  With n_probe = n_clusters the output is exact top-k.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from . import retrieval as R


def _centroids(
    corpus: DataFrame,
    vec_col: str,
    n_clusters: int,
    seed: int,
    sample_fraction: float,
    max_iter: int = 8,
    init_mode: str = "k-means||",
    trainer: str = "local",
    train_rows_cap: int = 100_000,
):
    """Coarse-quantizer training. A quantizer doesn't need convergence — a
    few Lloyd iterations position centroids well enough for probe routing
    (recall is governed by n_probe, not centroid optimality).

    trainer="local" (default): faiss-style — collect a BOUNDED sample
    (``limit(train_rows_cap)`` pushed into the scan; 100k×1k-dim ≈ 800 MB
    worst case, tune the cap down for very wide vectors) and run seeded
    numpy Lloyd on the driver. This is the standard design even for a
    100 TB corpus: quantizer training never needs more than a bounded
    sample, and it avoids Spark ML's multi-job fit overhead (~2 s per fit
    regardless of data size). Rows are byte-order-sorted before seeding so
    the result is independent of partition/collect order.

    trainer="ml": distributed pyspark.ml KMeans — for when the training
    sample itself must stay distributed. init_mode="random" there skips
    the k-means|| initialization rounds (measured ~4x of the whole fit at
    small k)."""
    sample = corpus.sample(False, sample_fraction, seed) if sample_fraction < 1.0 else corpus
    if trainer == "local":
        rows = sample.select(vec_col).limit(train_rows_cap).collect()
        mat = np.array([list(r[0]) for r in rows], dtype=np.float64)
        mat = mat[np.lexsort(mat.T[::-1])]  # collect-order independence
        rng = np.random.RandomState(seed)
        if len(mat) <= n_clusters:
            cents = mat[rng.permutation(len(mat))]
        else:
            cents = mat[rng.choice(len(mat), size=n_clusters, replace=False)].copy()
            for _ in range(max_iter):
                assign = np.argmax(mat @ cents.T, axis=1)
                for j in range(len(cents)):
                    sel = mat[assign == j]
                    if len(sel):
                        cents[j] = sel.mean(axis=0)
        return [list(map(float, c)) for c in cents]

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = sample.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=max_iter, initMode=init_mode
    ).fit(train)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _nearest_centroids(df: DataFrame, vec_col: str, centroids, p: int) -> DataFrame:
    """Each row → its p nearest centroids by cosine (vectors normalized ⇒
    max dot product), the row replicated p× with a ``centroid`` column;
    ties go to the lower centroid id (argmax / stable argsort).

    One numpy GEMM per Arrow batch against the broadcast centroid matrix:
    a literal-expression argmax works at k≈16 but the generated code grows
    O(k·dim) and blows past the JIT/codegen limits at realistic k
    (256–4096); the GEMM keeps the plan size constant in k."""
    bc = df.sparkSession.sparkContext.broadcast(np.array(centroids, dtype=np.float64))
    # fresh StructType — StructType.add mutates the DataFrame's cached schema
    schema = StructType(list(df.schema.fields) + [StructField("centroid", IntegerType())])

    def gen(batches):
        c = bc.value
        n = min(p, c.shape[0])
        for pdf in batches:
            # numpy only: a reference to this package would make every
            # Python worker that runs the assignment import it
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = mat.reshape(len(pdf), c.shape[1]) @ c.T  # (0, k) if empty
            if n == 1:
                idx, out = np.argmax(sims, axis=1), pdf.copy()
            else:
                idx = np.argsort(-sims, axis=1, kind="stable")[:, :n]
                out = pdf.loc[pdf.index.repeat(n)].copy()
            out["centroid"] = idx.reshape(-1).astype("int32")
            yield out

    return df.mapInPandas(gen, schema)


def assign_centroid(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Each row with its nearest centroid (``centroid``)."""
    return _nearest_centroids(df, vec_col, centroids, 1)


def probe_centroids(df: DataFrame, vec_col: str, centroids: list[list[float]], n_probe: int) -> DataFrame:
    """Each query row → its n_probe nearest centroid ids (row replicated
    n_probe×) — deterministic probing."""
    return _nearest_centroids(df, vec_col, centroids, n_probe)


def route_queries(queries: R.SideInput, cents: list[list[float]], n_probe: int) -> dict:
    """Driver-side probe routing of a collected query side: {centroid: row
    indices of the queries probing it}, with the same stable-argsort
    tie-break as probe_centroids. Its keys are the probed-centroid list a
    partition filter needs (at most n_clusters ints)."""
    if queries.rows.empty:
        return {}
    q = R._mat(queries.rows["__qv"], np.float64)
    order = np.argsort(
        -(q @ np.array(cents, dtype=np.float64).T), axis=1, kind="stable"
    )[:, : min(n_probe, len(cents))]
    return {int(c): np.nonzero((order == c).any(axis=1))[0] for c in np.unique(order)}


def probed_centroids(probes: DataFrame) -> list[int]:
    """The distinct centroids of distributed probes — the literal list a
    partition filter needs (at most n_clusters ints)."""
    return sorted(r["centroid"] for r in probes.select("centroid").distinct().collect())


def ivf_candidates(
    queries: DataFrame,
    cents: list[list[float]],
    n_probe: int,
    lists: DataFrame | str,
    scorer,
    keep: int,
    margin: float,
    what: str,
    streamed: bool = False,
    max_query_rows: int = 100_000,
    corpus_blocks: int = 1,
    max_group_rows: int = 2_000_000,
    cols=("neighbor_id", "__cv", "centroid"),
):
    """The IVF routing step of every IVF and IVF-PQ search: route the
    (query_id, __qv) ``queries`` to their ``n_probe`` nearest centroids
    and meet the probed inverted lists in a core placement with
    ``scorer``'s (keep, margin) cut.

    ``lists`` is an in-memory corpus (neighbor_id, __cv), assigned to
    ``cents`` here, or the path of a centroid-partitioned index, read
    with a ``centroid IN (probed)`` partition filter (the probed list is
    a literal, so it is collected for a streamed search). ``cols`` are
    the lists' columns the scorer reads, centroid included.

    Default: the queries are a guarded side input (``max_query_rows``),
    routed on the driver (``route_queries``) into the routed ``scan``.
    ``streamed``: they stay a DataFrame, routed by ``probe_centroids``
    into the salted ``cogroup`` (``corpus_blocks`` / ``max_group_rows``).
    Returns (candidates, the query side, the lists)."""
    spark = queries.sparkSession
    if streamed:
        probes = probe_centroids(queries, "__qv", cents, n_probe)
    else:
        queries = R.side_input(queries, max_query_rows, what, "max_query_rows")
        routes = route_queries(queries, cents, n_probe)
    if isinstance(lists, DataFrame):
        idx = assign_centroid(lists, "__cv", cents)
    else:
        probed = probed_centroids(probes) if streamed else sorted(routes)
        idx = spark.read.parquet(lists).filter(F.col("centroid").isin(probed))
    if streamed:
        cands = R.cogroup(
            probes, idx.select(*cols), scorer, keep, margin, corpus_blocks,
            max_group_rows, what,
        )
    else:
        cands = R.scan(idx.select(*cols), queries, scorer, keep, margin, routes)
    return cands, queries, idx


def write_small_json(spark, dir_path: str, obj: dict) -> None:
    """Persist a driver-sized metadata record (index centroids /
    codebooks) as ``<dir>/part-00000.json`` through the Hadoop FileSystem
    API — filesystem-agnostic like a DataFrame write (HDFS/S3A/GCS via
    the same scheme resolution) but without a Spark job: writing one
    local row through the JSON datasource costs ~4-6 s of job scheduling
    + codegen per call (measured r15), which dominated the whole
    build-index step. Read back with ``read_small_json`` — the on-disk
    layout (a directory of ``*.json`` line files) is unchanged, so
    ``spark.read.json(dir)`` remains a valid consumer for external
    tooling."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dir_path.rstrip("/") + "/part-00000.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    out.write(bytearray((json.dumps(obj) + "\n").encode("utf-8")))
    out.close()


def read_small_json(spark, dir_path: str) -> dict:
    """Read back the single metadata record persisted by
    ``write_small_json`` through the Hadoop FileSystem API — the reader
    half of the same optimization (r15-opt): ``spark.read.json(dir)``
    costs two driver-blocking jobs (schema inference + collect, ~0.2 s
    each call at any scale) for a KB-sized artifact that is
    driver-resident by design. Filesystem-agnostic via the same scheme
    resolution; also reads multi-part ``part-*.json`` directories written
    by a DataFrame writer (older indexes), merging records
    last-one-wins per key (the record is a single row in practice)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(dir_path.rstrip("/"))
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    # part-*.json only (ADVICE r15): a stale/foreign .json dropped in the
    # index dir must not silently override fields last-one-wins.
    parts = sorted(
        (
            st.getPath()
            for st in fs.listStatus(p)
            if st.getPath().getName().startswith("part-")
            and st.getPath().getName().endswith(".json")
        ),
        key=lambda pp: pp.getName(),
    )
    if not parts:
        raise FileNotFoundError(
            f"read_small_json: no part-*.json metadata record under "
            f"{dir_path} — the index metadata was never written (or the "
            f"directory is wrong); rebuild the index."
        )
    merged: dict = {}
    for pp in parts:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(pp), "UTF-8")
        )
        try:
            while True:
                line = reader.readLine()
                if line is None:
                    break
                if line.strip():
                    merged.update(json.loads(line))
        finally:
            reader.close()
    return merged


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    sample_fraction: float = 1.0,
    max_iter: int = 8,
    trainer: str = "local",
    train_rows_cap: int = 100_000,
) -> list[list[float]]:
    """Persist the inverted lists as a centroid-PARTITIONED parquet table —
    the 100 TB layout: each query's probe becomes a partition-pruned read
    of n_probe directories instead of a corpus scan. Centroids are stored
    alongside (<path>__centroids as single-file JSON via the same
    filesystem). Returns the centroids."""
    cents = _centroids(
        corpus, vec_col, n_clusters, seed, sample_fraction, max_iter,
        trainer=trainer, train_rows_cap=train_rows_cap,
    )
    assigned = assign_centroid(corpus.select(id_col, vec_col), vec_col, cents)
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)
    write_small_json(
        corpus.sparkSession,
        path.rstrip("/") + "__centroids",
        {"centroids": json.dumps(cents)},
    )
    return cents


def append_ivf_index(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a vector batch to a persisted IVF index WITHOUT retraining
    or rewriting the corpus — the ANN sibling of the incremental dedup
    indexes (dedup.stage_minhash_index / similarity.stage_embedding_lsh_index
    append flows): read the stored centroids, assign ONLY the batch (one
    broadcast-GEMM mapInPandas pass over O(batch) rows), and append
    centroid-partitioned files. Cost scales with the batch, never the
    index. The coarse quantizer is frozen (the FAISS maintenance model):
    searches over the appended index stay exactly correct — candidate
    recall at fixed n_probe drifts only if the data distribution drifts
    from the training sample, and n_probe = n_clusters remains provably
    exact — so rebuild on distribution change, append otherwise."""
    meta = read_small_json(spark, path.rstrip("/") + "__centroids")
    cents = json.loads(meta["centroids"])
    assigned = assign_centroid(new_vecs.select(id_col, vec_col), vec_col, cents)
    assigned.write.mode("append").partitionBy("centroid").parquet(path)


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    score_decimals: int | None = None,
    max_query_rows: int = 100_000,
    streamed: bool = False,
    corpus_blocks: int = 1,
    max_group_rows: int = 2_000_000,
) -> DataFrame:
    """Search a persisted IVF index: route each query to its n_probe nearest
    centroids, then read ONLY those partitions (`centroid IN (...)` reaches
    the scan as a PartitionFilter) and exact-fold re-rank. The
    probed-centroid list is always collected — at most n_clusters ints,
    and it must be a literal for partition pruning to fire.

    Default: the query set is a guarded side input (``max_query_rows``),
    routed driver-side and broadcast into the pruned-list scan.
    ``streamed=True``: corpus-scale query workloads — the probes stay a
    DataFrame and meet the pruned lists in the core's salted centroid
    cogroup, so nothing query-sized passes through the driver or a
    broadcast; per-task memory is bounded by ``corpus_blocks`` /
    ``max_group_rows`` (retrieval.cogroup)."""
    cents = json.loads(
        read_small_json(spark, path.rstrip("/") + "__centroids")["centroids"]
    )
    cands, q, idx = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, path,
        R.Gemm(), k + 4, R.cut_margin(score_decimals), "search_ivf_index",
        streamed, max_query_rows, corpus_blocks, max_group_rows,
        (F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"),
         "centroid"),
    )
    return R.exact_topk(
        cands, q, R.as_corpus(idx, id_col, vec_col), k, score_decimals
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_fraction: float = 1.0,
    score_decimals: int | None = None,
    max_iter: int = 8,
    init_mode: str = "k-means||",
    trainer: str = "local",
    train_rows_cap: int = 100_000,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """IVF ANN: (query_id, neighbor_id, score, rank) searching only the
    n_probe nearest inverted lists per query. The query set is a guarded
    side input (``max_query_rows``), routed driver-side; each corpus Arrow
    batch is grouped by centroid and GEMM-scored against the queries
    probing it, and the top-(k+4) candidates are exact-fold rescored and
    ranked. With n_probe = n_clusters the output is exact top-k."""
    cents = _centroids(
        corpus, vec_col, n_clusters, seed, sample_fraction, max_iter,
        init_mode, trainer, train_rows_cap,
    )
    c = R.as_corpus(corpus, id_col, vec_col)
    cands, qs, _ = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, c, R.Gemm(),
        k + 4, R.cut_margin(score_decimals), "cosine_topk_ivf",
        max_query_rows=max_query_rows,
    )
    return R.exact_topk(cands, qs, c, k, score_decimals)


def cosine_topk_ivf_streamed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_fraction: float = 1.0,
    score_decimals: int | None = None,
    max_iter: int = 8,
    init_mode: str = "k-means||",
    trainer: str = "local",
    train_rows_cap: int = 100_000,
    corpus_blocks: int = 1,
    max_group_rows: int = 2_000_000,
) -> DataFrame:
    """cosine_topk_ivf for CORPUS-SCALE query workloads: the queries stay
    a DataFrame end to end — routed distributed (probe_centroids), scored
    in the core's salted centroid cogroup, rescored through ordinary joins
    the planner sizes. Only the centroid matrix is broadcast and only the
    bounded centroid training sample touches the driver. Output equals
    cosine_topk_ivf at the same (n_clusters, n_probe), pinned in
    tests/test_ann_streamed.py."""
    cents = _centroids(
        corpus, vec_col, n_clusters, seed, sample_fraction, max_iter,
        init_mode, trainer, train_rows_cap,
    )
    c = R.as_corpus(corpus, id_col, vec_col)
    cands, q, _ = ivf_candidates(
        R.as_queries(queries, id_col, vec_col), cents, n_probe, c, R.Gemm(),
        k + 4, R.cut_margin(score_decimals), "cosine_topk_ivf_streamed", True,
        corpus_blocks=corpus_blocks, max_group_rows=max_group_rows,
    )
    return R.exact_topk(cands, q, c, k, score_decimals)
