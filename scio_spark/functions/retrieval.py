"""Two-stage retrieval core behind every top-k search entry point.

Every search in similarity.py, ivf.py and pq.py is the same pipeline
(filter-and-refine, as in incremental top-k similarity search and REPOSE):

1. **guard** — a side that is collected to the driver passes
   ``require_side_input_sized`` first (``side_input``);
2. **place** — where the two sides meet: queries broadcast and the corpus
   scanned (``scan``), the index broadcast and the queries scanned
   (``probe``), or both sides in a salted centroid cogroup (``cogroup``);
   the IVF searches reach ``scan`` and ``cogroup`` through one routing
   step, ``ivf.ivf_candidates``;
3. **candidate cut** — a scorer turns a query block and a corpus block
   into the cut's (query_id, sims, neighbor_ids) rows (``rows``), and
   ``cut`` keeps, per query, every row within ``margin`` of its
   ``keep``-th best score. ``Gemm`` here, ``similarity.Sq8`` and
   ``pq.Adc`` take the rows of a queries × corpus score matrix;
   ``similarity.Hnsw`` builds an HNSW graph as its corpus block and
   beam-searches it per query;
4. **exact rescore and rank** — ``exact_topk`` joins the candidate pairs
   to both vector sides, scores them with the sequential double fold
   (``_dot``, identical to the DuckDB oracle's ordered sum), rounds, and
   ranks by (score desc, neighbor_id asc). HNSW without ``exact_rescore``
   ranks its beam scores instead (``rank_topk``): its scorer sets
   ``scores``, so its placement emits the cut's score column.

LSH buckets generate candidates their own way (a same-bucket join) and
end in ``fold_topk``.

The near-dup searches (similarity.embedding_dedup_pairs, ``_lsh``,
``incremental_embedding_dedup``) threshold instead of ranking, and share
the **threshold tail**: the GEMM generators (block pairs, LSH buckets)
keep every pair scoring at least ``threshold_margin`` with the one pair
kernel ``margin_pairs``, and all three end in ``exact_threshold``, which
fold-rescores the candidates, rounds, and keeps ``score >= threshold``.

**Containment.** A row outside a block's cut cannot be in the final top-k
if its block cut kept ``keep >= k + 1`` rows (k plus a possible
self-match) at or above it: those rows outrank it in that block, so they
outrank it globally. With exact scorers (GEMM, HNSW beam) the comparison
happens on float64 block scores, but the final ranking is on fold scores
rounded to ``score_decimals``. ``cut_margin`` covers both: GEMM-vs-fold
drift, which is at most ``gemm_eps`` per score in either direction, and
round-half-even, which moves two values by at most a full step
``10^-d`` relative to each other. Keeping everything within that margin of
the cut means every kept row still strictly outranks every dropped one
after rescoring and rounding. So the candidate union of any partition of
the corpus into blocks (Arrow batches, centroid lists, salted blocks,
shards) contains the exact top-k, and ``keep_candidates`` keeps all ties,
so the candidate set does not depend on row order or batch boundaries.
Quantized scorers (SQ8, ADC) cut with margin 0 at ``k·oversample + 1``:
their error against the exact score is unbounded, so they only gate
recall, and the exhaustive regime (``keep`` ≥ block size) is exact.

The threshold tail's margin is one-sided, because the cut compares each
pair with a fixed threshold rather than with other rows:
``threshold_margin`` lowers the threshold by half a rounding step (a fold
score at ``threshold − 0.5·10^-d`` rounds up to the threshold) plus the
GEMM-vs-fold drift, so every pair that passes the final filter survives
the GEMM cut.

**Broadcast rule.** ``F.broadcast`` is applied to a side only when it is
a ``SideInput``, i.e. it passed the guard. Every other join is left to
``spark.sql.autoBroadcastJoinThreshold``, so an index that outgrows the
broadcast budget falls back to a shuffle join instead of an OOM.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Schema of every candidate stage.
PAIRS = "query_id long, neighbor_id long"


def _dot(a, b):
    """Sequential left-fold dot product in double — deterministic and
    identical to the DuckDB oracle's ordered SUM."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cut_margin(score_decimals: int | None, gemm_eps: float = 1e-9) -> float:
    """Safety margin of an exact-score candidate cut whose scores are
    rescored and rounded to ``score_decimals`` before ranking: one full
    rounding step plus the two-sided GEMM-vs-fold drift (module docstring,
    Containment). Widening it only keeps more candidates."""
    if score_decimals is None:
        return 2.0 * gemm_eps
    return 10.0 ** -score_decimals + 2.0 * gemm_eps


def keep_candidates(row, kk: int, margin: float):
    """Indices of all entries of ``row`` scoring >= (kk-th largest − margin).

    Unlike ``np.argpartition``, which breaks ties in memory-layout order,
    the kept set is a pure function of the score multiset, so it does not
    depend on row order, partitioning or Arrow batch boundaries. If all
    scores tie, the whole row is kept; callers bound block size upstream
    (corpus_blocks / max_group_rows)."""
    if kk >= len(row):
        return np.arange(len(row))
    t = np.partition(row, len(row) - kk)[len(row) - kk]
    return np.nonzero(row >= t - margin)[0]


def cut(rows, keep: int, margin: float, scores: bool = False) -> pd.DataFrame:
    """The per-query candidate cut: for each ``(query_id, sims,
    neighbor_ids)`` in ``rows``, the neighbors ``keep_candidates(sims,
    keep, margin)`` keeps, minus the query's self-match. Returns
    (query_id, neighbor_id[, score])."""
    out_q, out_n, out_s = [], [], []
    for q_id, sims, ids in rows:
        idx = keep_candidates(sims, keep, margin)
        idx = idx[ids[idx] != q_id]
        out_q.extend([q_id] * len(idx))
        out_n.extend(ids[idx])
        out_s.extend(sims[idx])
    out = {
        "query_id": np.asarray(out_q, np.int64),
        "neighbor_id": np.asarray(out_n, np.int64),
    }
    if scores:
        out["score"] = np.asarray(out_s, np.float64)
    return pd.DataFrame(out)


def _mat(col, dtype) -> np.ndarray:
    return np.array(list(col), dtype=dtype)


class Gemm:
    """Exact scorer: float64 query rows · corpus ``__cv`` vectors.

    A scorer turns query vectors into a query block (``queries``) and a
    corpus frame into a corpus block (``corpus``); ``rows`` yields the
    cut's (query_id, sims, neighbor_ids) rows of the two blocks — here
    the rows of ``score``, a queries × corpus-rows similarity matrix.
    ``scores``: the placements emit the cut's score column (only a scorer
    whose scores are final ranking scores sets it)."""

    scores = False

    def queries(self, vecs) -> np.ndarray:
        return _mat(vecs, np.float64)

    def corpus(self, pdf: pd.DataFrame) -> np.ndarray:
        return _mat(pdf["__cv"], np.float64)

    def score(self, q: np.ndarray, c: np.ndarray) -> np.ndarray:
        return q @ c.T

    def rows(self, q_ids, q, c, c_ids):
        sims = self.score(q, c)
        return ((q_ids[i], sims[i], c_ids) for i in range(len(q_ids)))


def as_queries(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The query side in the core's column names: (query_id, __qv)."""
    return df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))


def as_corpus(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The corpus side in the core's column names: (neighbor_id, __cv)."""
    return df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))


# ------------------------------------------------------------------ guard

#: Byte budget for driver-collected side inputs. A row cap alone lets a
#: wide-row input (long documents, fat embeddings) bloat the driver while
#: staying under the row count — so the guard also sums approximate
#: serialized bytes and fails actionably past this budget.
SIDE_INPUT_MAX_BYTES = 2 << 30  # 2 GiB

#: Half the number of leading rows whose bytes the guard sums exactly.
SIDE_INPUT_BYTE_SAMPLE = 4096


def _approx_row_bytes(df: DataFrame):
    """Column: approximate in-memory bytes of one row — octet_length for
    string/binary, JSON length for nested types (over-estimates ~4/3 on
    binary-in-array, fine for a budget), 8 for scalars, +16 overhead."""
    from pyspark.sql import types as T

    out = F.lit(16)
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            out = out + F.coalesce(F.octet_length(c), F.lit(0))
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            out = out + F.coalesce(
                F.octet_length(F.to_json(F.struct(c))), F.lit(0)
            )
        else:
            out = out + F.lit(8)
    return out


def require_side_input_sized(
    df: DataFrame,
    max_rows: int,
    what: str,
    knob: str,
    max_bytes: int | None = SIDE_INPUT_MAX_BYTES,
):
    """Driver-collect guard: a by-contract-small side input that is actually
    big must fail with an actionable error, not an executor/driver OOM.

    One bounded job over ``df.limit(max_rows + 1)`` counts the rows for
    the row cap and estimates the bytes for ``max_bytes``. Row p of a
    partition (the low 33 bits of ``monotonically_increasing_id``) enters
    the byte sum with probability q(p) = min(1, 2·SIDE_INPUT_BYTE_SAMPLE /
    (p + 1)) and weight 1/q(p) (Horvitz–Thompson): the first
    2·SIDE_INPUT_BYTE_SAMPLE rows of a partition are summed exactly, the
    estimate is unbiased beyond them, and a partition of n rows evaluates
    the byte expression (a lazy CASE WHEN) on only
    ~2·SIDE_INPUT_BYTE_SAMPLE·(1 + ln(n / 2·SIDE_INPUT_BYTE_SAMPLE)) rows.
    The rate follows the observed position, not ``max_rows``, so a modest
    input under a large cap is summed exactly instead of from a handful of
    rows. The budget is a driver-OOM guard, not an exact accountant:
    to_json over-estimates nested binary ~4/3. Callers with legitimately
    huge-but-fits inputs pass ``max_bytes=None`` alongside a raised row
    cap."""
    capped = df.limit(max_rows + 1)
    if max_bytes is None:
        n, est, sampled = capped.count(), 0, 0
    else:
        pos = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
        q = F.least(F.lit(1.0), F.lit(2.0 * SIDE_INPUT_BYTE_SAMPLE) / (pos + 1))
        row = (
            capped.withColumn("__q", q)
            .withColumn("__in", F.rand(7) < F.col("__q"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("__in"), _approx_row_bytes(df) / F.col("__q"))
                ).alias("b"),
                F.count(F.when(F.col("__in"), F.lit(1))).alias("bn"),
            )
            .collect()[0]
        )
        n, est, sampled = row["n"], int(row["b"] or 0), row["bn"]
    if n > max_rows:
        raise ValueError(
            f"{what}: the query set has >{max_rows} rows but is collected/"
            f"broadcast as a side input by this operator. Reduce the query "
            f"set, or raise {knob} if the driver genuinely has the memory."
        )
    if max_bytes is not None and est > max_bytes:
        raise ValueError(
            f"{what}: ~{est >> 20} MiB (estimated from a sample of "
            f"{sampled} rows) exceeds the {max_bytes >> 20} MiB "
            f"side-input byte budget (rows are within the {knob} cap "
            f"but too wide). Reduce the input, or raise max_bytes if "
            f"the driver genuinely has the memory."
        )


@dataclass(frozen=True)
class SideInput:
    """A side that passed the guard and was collected: ``df`` is what was
    collected, ``rows`` its driver-side copy (key column first)."""

    df: DataFrame
    rows: pd.DataFrame

    @property
    def ids(self) -> np.ndarray:
        return self.rows.iloc[:, 0].to_numpy(np.int64)


def side_input(df: DataFrame, max_rows: int, what: str, knob: str) -> SideInput:
    """The one guard → collect sequence of the family."""
    require_side_input_sized(df, max_rows, what, knob)
    return SideInput(df, pd.DataFrame.from_records(df.collect(), columns=df.columns))


# -------------------------------------------------------------- placement


def _schema(scorer) -> str:
    return PAIRS + ", score double" if scorer.scores else PAIRS


def scan(
    corpus: DataFrame,
    queries: SideInput,
    scorer,
    keep: int,
    margin: float,
    routes: dict | None = None,
    key: str = "centroid",
) -> DataFrame:
    """Candidates with the (guarded) query side broadcast: each corpus
    Arrow batch — (neighbor_id, scorer columns) — is scored against the
    query block. With ``routes`` ({key value: query row indices}) the
    batch is grouped by ``key`` and each group meets only the queries
    routed to it (IVF probing, or per-query refinement)."""
    ids, q = queries.ids, scorer.queries(queries.rows["__qv"])
    if routes is None:
        packed = {None: (ids, q)}
    else:
        packed = {int(c): (ids[r], q[r]) for c, r in routes.items()}
    bc = corpus.sparkSession.sparkContext.broadcast(packed)

    def gen(batches):
        tbl = bc.value
        for pdf in batches:
            groups = [(None, pdf)] if routes is None else pdf.groupby(key)
            for g, grp in groups:
                q_ids, qb = tbl.get(g if g is None else int(g), ((), None))
                if not len(q_ids) or grp.empty:
                    continue
                rows = scorer.rows(
                    q_ids, qb, scorer.corpus(grp), grp["neighbor_id"].to_numpy()
                )
                yield cut(rows, keep, margin, scorer.scores)

    return corpus.mapInPandas(gen, _schema(scorer))


def probe(
    queries: DataFrame, index: SideInput, scorer, keep: int, margin: float
) -> DataFrame:
    """Candidates with the (guarded) index side broadcast: each query
    Arrow batch — (query_id, __qv) — is scored against the whole index
    block, so queries never pass through the driver. The index block is
    built once, on the driver (for ``Hnsw``, the graph)."""
    bc = queries.sparkSession.sparkContext.broadcast(
        (index.ids, scorer.corpus(index.rows))
    )

    def gen(batches):
        c_ids, cb = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            q_ids = pdf["query_id"].to_numpy()
            rows = scorer.rows(q_ids, scorer.queries(pdf["__qv"]), cb, c_ids)
            yield cut(rows, keep, margin, scorer.scores)

    return queries.mapInPandas(gen, _schema(scorer))


def cogroup(
    probes: DataFrame,
    inv: DataFrame,
    scorer,
    keep: int,
    margin: float,
    corpus_blocks: int,
    max_group_rows: int,
    what: str,
    query_lever: str = (
        "increase n_clusters (expected per-centroid query volume is "
        "~queries*n_probe/n_clusters; size k ~ sqrt(n))"
    ),
) -> DataFrame:
    """Candidates from a salted centroid cogroup: probes (query_id, __qv,
    centroid) meet inverted lists (neighbor_id, scorer columns, centroid)
    per (centroid, pmod(xxhash64(neighbor_id), corpus_blocks)) group, so
    one task holds at most Θ(n / (n_clusters · corpus_blocks)) corpus rows
    and Θ(queries · n_probe / n_clusters) query rows. Both sides fail
    actionably past ``max_group_rows``. Block splitting can only add
    candidates (Containment), and each corpus row lives in exactly one
    group, so the pairs are unique without a dedup shuffle. With one
    literal centroid on both sides the groups are plain corpus shards,
    every query meeting each (sharded HNSW). ``what`` prefixes the guard
    errors; a caller whose lever is not ``corpus_blocks`` names it there,
    and ``query_lever`` names the query side's (default: IVF's)."""
    B = max(1, corpus_blocks)
    inv_b = inv.withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(B)).cast("int")
    )
    probes_b = probes.withColumn(
        "__blk", F.explode(F.array(*[F.lit(i) for i in range(B)]))
    )

    def group(_key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or cpdf.empty:
            return cut((), keep, margin, scorer.scores)
        if len(cpdf) > max_group_rows:
            raise ValueError(
                f"{what}: inverted-list block for centroid "
                f"{int(cpdf['centroid'].iloc[0])} has {len(cpdf)} rows > "
                f"max_group_rows={max_group_rows}; increase corpus_blocks "
                f"(per-task corpus block is ~n/(n_clusters*corpus_blocks) "
                f"rows) or n_clusters, or raise the cap explicitly"
            )
        if len(qpdf) > max_group_rows:
            raise ValueError(
                f"{what}: {len(qpdf)} queries routed to centroid "
                f"{int(qpdf['centroid'].iloc[0])} > "
                f"max_group_rows={max_group_rows}; {query_lever} or raise "
                f"the cap explicitly"
            )
        rows = scorer.rows(
            qpdf["query_id"].to_numpy(), scorer.queries(qpdf["__qv"]),
            scorer.corpus(cpdf), cpdf["neighbor_id"].to_numpy(),
        )
        return cut(rows, keep, margin, scorer.scores)

    return (
        probes_b.groupBy("centroid", "__blk")
        .cogroup(inv_b.groupBy("centroid", "__blk"))
        .applyInPandas(group, _schema(scorer))
    )


def refine(
    cands: DataFrame, queries: SideInput, corpus: DataFrame, k: int, margin: float
) -> DataFrame:
    """Exact re-cut of quantized candidates before the fold rescore: the
    candidates take their corpus vectors (a plain join — the corpus is not
    a guarded side), each query's group is scored with an exact GEMM
    against the broadcast query, and the exact-score cut keeps k + 4 rows
    per query with ``margin``. In the exhaustive regime this shrinks the
    fold rescore from |queries| × |index| pairs to ~|queries| × (k + ties)."""
    routes = {int(q): np.array([i]) for i, q in enumerate(queries.ids)}
    return scan(
        cands.join(corpus, "neighbor_id"), queries, Gemm(), k + 4, margin,
        routes, key="query_id",
    )


# ------------------------------------------------------- rescore and rank


def rank_topk(scored: DataFrame, k: int, score_decimals: int | None) -> DataFrame:
    """Round (when ``score_decimals`` is set), then keep the top-k per
    query by (score desc, neighbor_id asc):
    (query_id, neighbor_id, score, rank)."""
    if score_decimals is not None:
        scored = scored.withColumn("score", F.round("score", score_decimals))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def fold_topk(pairs: DataFrame, k: int, score_decimals: int | None) -> DataFrame:
    """Exact fold score of pairs carrying both vectors (__qv, __cv), then
    ``rank_topk``."""
    return rank_topk(
        pairs.withColumn("score", _dot(F.col("__qv"), F.col("__cv"))),
        k, score_decimals,
    )


def exact_topk(
    cands: DataFrame,
    queries: DataFrame | SideInput,
    corpus: DataFrame | SideInput,
    k: int,
    score_decimals: int | None,
) -> DataFrame:
    """The tail of every top-k entry point: join the (query_id,
    neighbor_id) candidates to the query vectors (query_id, __qv) and the
    corpus vectors (neighbor_id, __cv), fold-score and rank. A side given
    as a ``SideInput`` is broadcast; a DataFrame side is left to the
    planner."""

    def side(s):
        return F.broadcast(s.df) if isinstance(s, SideInput) else s

    return fold_topk(
        cands.join(side(queries), "query_id").join(side(corpus), "neighbor_id"),
        k, score_decimals,
    )


# --------------------------------------------------------- threshold tail


def threshold_margin(threshold: float, score_decimals: int | None) -> float:
    """Candidate-keep floor of a threshold cut (module docstring): every
    pair whose fold score can pass the final ``score >= threshold`` —
    including round-half-up when ``score_decimals`` is set and GEMM-vs-fold
    drift — scores at least this in the GEMM."""
    if score_decimals is not None:
        return threshold - 0.5 * 10.0 ** -score_decimals - 1e-9
    return threshold - 1e-6


#: GEMM entries per chunk of ``margin_pairs`` (32 MB of float64).
PAIR_CHUNK = 4_194_304


def margin_pairs(l_ids, l_mat, r_ids, r_mat, margin: float, same_rows: bool):
    """The threshold cut's pair kernel: (id_1, id_2) with id_1 < id_2 for
    every left × right row pair whose GEMM score is ≥ ``margin``. Left rows
    are scored in chunks of ~``PAIR_CHUNK`` entries, so a block costs
    O(len(r_mat) · dim) memory plus one chunk, whatever its size.
    ``same_rows``: both sides hold the same rows (a diagonal block pair, an
    LSH bucket), so each unordered pair is scored twice and kept once, from
    its (smaller id, larger id) entry; self-pairs drop out."""
    chunk = max(1, PAIR_CHUNK // max(1, len(r_ids)))
    lo, hi = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    n_left = len(l_ids) if len(r_ids) else 0  # an empty side scores nothing
    for s in range(0, n_left, chunk):
        li, rj = np.nonzero(l_mat[s : s + chunk] @ r_mat.T >= margin)
        a, b = l_ids[li + s], r_ids[rj]
        if same_rows:
            keep = a < b
            a, b = a[keep], b[keep]
        lo.append(np.minimum(a, b))
        hi.append(np.maximum(a, b))
    return pd.DataFrame({"id_1": np.concatenate(lo), "id_2": np.concatenate(hi)})


def exact_threshold(
    corpus: DataFrame,
    cands: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    score_decimals: int | None,
) -> DataFrame:
    """The tail of every threshold entry point: join the (id_1, id_2)
    candidates to both corpus vectors, fold-score (``_dot``, bit-identical
    to the DuckDB oracle's ordered sum), round, and keep
    ``score >= threshold``: (id_1, id_2, score)."""
    a = corpus.select(F.col(id_col).alias("id_1"), F.col(vec_col).alias("__a"))
    b = corpus.select(F.col(id_col).alias("id_2"), F.col(vec_col).alias("__b"))
    scored = (
        cands.join(a, "id_1")
        .join(b, "id_2")
        .withColumn("score", _dot(F.col("__a"), F.col("__b")))
    )
    if score_decimals is not None:
        scored = scored.withColumn("score", F.round("score", score_decimals))
    return scored.filter(F.col("score") >= threshold).select("id_1", "id_2", "score")
