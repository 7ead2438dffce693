"""Deduplication operators for LLM training-data pipelines.

Four families, all shuffle-frugal and expressed in built-in DataFrame ops
(no Python in the hot path):

- **exact**: hash-groupBy on normalized text (one shuffle on a 32-byte key).
- **n-gram Jaccard**: shingle inverted-index self-join — the exact method;
  candidate pairs are only docs sharing ≥1 shingle.
- **MinHash + LSH**: k lexicographic-min md5 hashes per doc → band buckets →
  bucket self-join for candidates → exact-Jaccard verification. The standard
  100 TB path: candidate generation touches only same-bucket pairs.
- **SimHash**: 16-bit sign-sum signature; banded self-join (4 bands × 4 bits)
  is *exact* for Hamming ≤ 3 by pigeonhole, then verified with bit_count.

Every near-dup family here and its embedding siblings (similarity.py,
semdedup.py, substr_dedup.py) is filter-and-verify: bucket candidates
first, exact verification second. Each shared step has one home:

- bucketed index tables (``stage_shingles``, ``stage_minhash_index``,
  ``similarity.stage_embedding_lsh_index``, ``substr_dedup.stage_gram_index``)
  are written by ``operators.smb.save_sorted_bucket``;
- ``co_bucket_pairs`` is the (id_1 < id_2) self-join within a shared
  shingle or band bucket: inverted index, MinHash bands, embedding bands;
- ``incremental_probe`` (new batch vs staged index, plus new vs new)
  serves ``incremental_lsh_candidates`` and
  ``similarity.incremental_embedding_candidates``;
- ``_exact_jaccard`` is the count-table verification of every Jaccard
  path;
- ``stage_bounded`` is the one checkpoint policy (incremental batches,
  ``connected_components`` rounds);
- the embedding threshold tail (margin, pair kernel, exact rescore) lives
  in retrieval.py beside ``exact_topk``.

SimHash keeps its own band join: it carries the signatures into the
Hamming check.

Cross-engine determinism: hashes are md5 strings (identical in Spark and
DuckDB); minhash = lexicographic MIN over md5 strings, which is a valid
min-hash under any total order on a uniform hash family.

Scale notes: the shingle join's fan-out is bounded by shingle document
frequency; for web-scale corpora add a frequency cap on shingles (drops only
near-universal shingles) and/or rely on LSH candidates exclusively. All
group-bys here partial-aggregate map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scio_spark.functions.text import normalized_text
from scio_spark.operators.merge import _fs
from scio_spark.operators.smb import save_sorted_bucket

HEX = "0123456789abcdef"


# ------------------------------------------------------------------- exact


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group docs by md5(normalized text): (text_hash, n_docs, keep_id).
    ``keep_id`` = min id is the canonical survivor."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per normalized-text group (the min-id row)."""
    h = F.md5(normalized_text(text_col)).alias("__h")
    ranked = df.withColumn("__h", h)
    keep = ranked.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return ranked.join(keep, ["__h", id_col], "left_semi").drop("__h")


# ----------------------------------------------------------------- shingles


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fan_out: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, s). Single-space word
    split (documents fixture is single-spaced); joined with spaces.

    The split array is STAGED in its own projection so the n references to
    it inside the per-element lambda read a computed column instead of
    re-running the split (unstaged, the split re-evaluates per element —
    O(words²) per doc).

    ``fan_out`` (r15-opt): the scan is fanned out to scheduling width
    first (fanout.py) — the split/concat/explode plus the distinct's
    map-side partial agg are the expensive pre-shuffle stage, and a
    narrow input (few row groups) would run them on one core. Callers
    shingling a deliberately SMALL side (eval sets headed for a
    broadcast) pass False: one extra exchange there is pure overhead."""
    from scio_spark.fanout import fan_out_scan

    if fan_out:
        df = fan_out_scan(df)
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    )
    w = F.col("__w")
    # guard: Spark sequence(0, -1) DESCENDS — short docs need an empty array
    sh = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j + 1) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The .distinct() is semantically redundant (array_distinct already
    # dedupes within the doc, ids are unique per row) but KEPT on purpose:
    # it anchors a reusable exchange+aggregate that every consumer of the
    # multi-use shingle diamond (cap, candidates, verify, counts) shares —
    # removing it measured 35-45% SLOWER on ngram/cluster dedup at sf0.1
    # (each consumer re-derives the explode and AQE loses the materialized
    # row statistics that pick the downstream join strategies).
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("s")
    ).distinct()


def cap_shingle_frequency(
    sh: DataFrame, max_doc_freq: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles with document frequency > ``max_doc_freq`` — the
    web-scale fan-out guard: a shingle present in f docs contributes O(f²)
    rows to the inverted-index self-join, and near-universal boilerplate
    shingles ("terms of service", nav chrome) dominate that cost while
    carrying no dedup signal. One partial-agg'd shuffle on the shingle,
    then a left-semi join against the surviving shingle set."""
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    keep = df_counts.filter(F.col("__df") <= max_doc_freq).select("s")
    return sh.join(keep, "s", "left_semi")


def co_bucket_pairs(df: DataFrame, id_col: str, keys: str | list[str]) -> DataFrame:
    """(id_1, id_2) with id_1 < id_2 for every two rows of ``df`` that share
    ``keys`` — the one co-bucket self-join behind the shingle inverted
    index, the MinHash and embedding LSH bands and both incremental probes'
    new-vs-new side. Callers that need distinct pairs add ``.distinct()``
    (a pair can share several buckets)."""
    a = df.withColumnRenamed(id_col, "id_1")
    b = df.withColumnRenamed(id_col, "id_2")
    return (
        a.join(b, keys)
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
    )


def incremental_probe(
    new: DataFrame, index: DataFrame, id_col: str, keys: list[str]
) -> DataFrame:
    """Distinct (id_1 < id_2) candidate pairs of a NEW batch: the batch's
    bucket rows joined to a staged bucket index on ``keys``, plus the
    batch's own co-bucket pairs. Shared by ``incremental_lsh_candidates``
    and ``similarity.incremental_embedding_candidates``; ``new`` is read
    three times, so callers pass it materialized (``stage_bounded``)."""
    vs_corpus = (
        new.withColumnRenamed(id_col, "id_a")
        .join(index.withColumnRenamed(id_col, "id_b"), keys)
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_1"),
            F.greatest("id_a", "id_b").alias("id_2"),
        )
    )
    return vs_corpus.unionByName(co_bucket_pairs(new, id_col, keys)).distinct()


def _exact_jaccard(
    sh: DataFrame,
    id_col: str,
    min_jaccard: float,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over the FULL (uncapped) shingle sets: (id_1, id_2,
    jaccard) ≥ ``min_jaccard``. With ``cands`` (the LSH and capped
    inverted-index paths) only those pairs are counted, so frequency
    capping never changes emitted jaccard values; without, every
    co-shingled pair is (``jaccard_pairs``)."""
    if cands is None:
        shared = co_bucket_pairs(sh, id_col, "s")
    else:
        a = sh.withColumnRenamed(id_col, "id_1")
        b = sh.withColumnRenamed(id_col, "id_2")
        shared = cands.join(a, "id_1").join(b, ["id_2", "s"])
    inter = shared.groupBy("id_1", "id_2").agg(F.count(F.lit(1)).alias("inter"))
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    ca = counts.withColumnRenamed(id_col, "id_1").withColumnRenamed("n", "n1")
    cb = counts.withColumnRenamed(id_col, "id_2").withColumnRenamed("n", "n2")
    # NO broadcast hint on the count tables: they are CORPUS-sized (one
    # row per doc — ~10^11 rows at 100 TB, never driver-collectable). AQE
    # still picks a broadcast join at small scale from the observed size;
    # at corpus scale this degrades gracefully to a shuffle join keyed on
    # the candidate ids (plan-asserted in test_query_plans.py).
    return (
        inter.join(ca, "id_1")
        .join(cb, "id_2")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_1", "id_2", "jaccard")
    )


def jaccard_pairs(
    sh: DataFrame, id_col: str = "doc_id", min_jaccard: float = 0.0
) -> DataFrame:
    """Exact Jaccard for every co-shingled doc pair via inverted-index
    self-join: (id_1, id_2, jaccard), id_1 < id_2.

    One shuffle on shingle for the pair counts + per-doc shingle-count
    joins keyed on the pair ids. The count tables carry one row PER DOC
    (corpus-sized at 100 TB), so they get no broadcast hint — AQE
    broadcasts them at small scale from the observed size and falls back
    to a shuffle join at corpus scale."""
    return _exact_jaccard(sh, id_col, min_jaccard)


def stage_shingles(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    buckets: int = 64,
) -> DataFrame:
    """Materialize the shingle table ONCE as a bucketed+sorted table on the
    shingle key (the SCALING.md dedup note, made concrete): every later
    inverted-index self-join, frequency cap, or signature pass over the same
    corpus reads the staged table and — because both join sides share the
    bucket layout — joins/aggregates on ``s`` without re-exploding the
    corpus or re-shuffling (the same mechanism as operators/smb.py).
    Returns the staged table as a DataFrame; pass it to the dedup entry
    points via ``shingles_df=``."""
    return save_sorted_bucket(shingles(df, id_col, text_col, n), table, "s", buckets)


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.8,
    max_doc_freq: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with exact n-gram Jaccard ≥ threshold.

    ``max_doc_freq`` caps the inverted-index fan-out: candidate pairs come
    from capped shingles only, but the emitted jaccard is ALWAYS computed
    over the full shingle sets, so capping can only lose pairs whose every
    shared shingle is near-universal — it never changes a value. (A pair at
    jaccard j shares ≥ j/(1+j) of either doc's shingles; any of them below
    the cap keeps the pair.)

    ``shingles_df``: a pre-staged shingle table (``stage_shingles``) to
    reuse instead of re-exploding the corpus."""
    sh = shingles_df if shingles_df is not None else shingles(df, id_col, text_col, n)
    if max_doc_freq is None:
        return jaccard_pairs(sh, id_col, min_jaccard)
    capped = cap_shingle_frequency(sh, max_doc_freq, id_col)
    cands = co_bucket_pairs(capped, id_col, "s").distinct()
    return _exact_jaccard(sh, id_col, min_jaccard, cands)


# ------------------------------------------------------------------ MinHash


def minhash_signature(sh: DataFrame, id_col: str = "doc_id", k: int = 16) -> DataFrame:
    """k min-hashes per doc, each a 48-bit md5-slice BIGINT (min over a
    uniform hash ⇒ valid MinHash; the engine-portable md5-prefix integer
    recipe). Numeric rather than the md5 hex string deliberately:
    min(string) plans as SortAggregate (sorts every shingle row on both
    sides of the shuffle) while min(bigint) is a HashAggregate with
    map-side combine, and the shuffled signature is k×8 bytes instead of
    k×32. One partial-agg shuffle.

    The k hash functions are SLICED two-per-md5 (hex chars 1-12 and 13-24
    of md5(i//2 || '|' || shingle)): md5 is the dominant per-shingle CPU
    and its bits are independent, so k/2 digests give k valid hash
    functions at half the hashing cost (standard wide-hash slicing)."""
    aggs = [
        F.min(
            F.expr(
                f"CAST(conv(substring(md5(concat('{i // 2}|', s)),"
                f" {1 + 12 * (i % 2)}, 12), 16, 10) AS BIGINT)"
            )
        ).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(
    sig: DataFrame, id_col: str = "doc_id", k: int = 16, bands: int = 4
) -> DataFrame:
    """Band a minhash signature into (id, band, bucket) rows — bucket = md5
    of the band's concatenated minhashes. The shared banding step of the
    one-shot self-join path and the staged/incremental index path."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        # '|' separator: BIGINT minhashes render as decimal digits, and
        # unseparated concat would alias ("12","34") with ("1","234")
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", k: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature (bands × k/bands rows), bucket by md5 of the band's
    concatenated minhashes, self-join within buckets → distinct candidate
    pairs (id_1 < id_2)."""
    # both self-join sides share the banded subplan; a persist here
    # measured 45% SLOWER cold in a fresh-session A/B (pipelining lost,
    # and the bands are cheap to recompute relative to simhash's) — leave
    # the diamond to the optimizer
    exploded = minhash_bands(sig, id_col, k, bands)
    return co_bucket_pairs(exploded, id_col, ["band", "bucket"]).distinct()


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.8,
    persist_shingles: bool = False,
    max_doc_freq: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection: LSH candidates ∩ exact-Jaccard verify.
    (Verification joins the exact pair-Jaccard only for candidate pairs —
    work scales with |candidates|, not all co-shingled pairs: the LSH point
    at 100 TB.)

    ``max_doc_freq``: cap shingle document frequency for the signature /
    bucketing stage (cap_shingle_frequency) — the web-scale guard against
    boilerplate-dominated buckets. Verification still uses the FULL shingle
    sets, so emitted jaccard values are unchanged by the cap.

    ``persist_shingles``: the shingle table feeds both the signature and the
    verification join. Materializing it wins when the pipeline is re-executed
    (iterative tuning, multi-query reuse) or shingling is expensive; for a
    one-shot run recomputation is cheaper than the materialize round-trip —
    measured 2× either way at sf0.1. At cluster scale prefer writing
    shingles to a bucketed table once and reusing it across dedup runs
    (``stage_shingles``) and passing it via ``shingles_df``."""
    sh = shingles_df if shingles_df is not None else shingles(df, id_col, text_col, n)
    if persist_shingles:
        from pyspark import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sig_src = (
        cap_shingle_frequency(sh, max_doc_freq, id_col)
        if max_doc_freq is not None
        else sh
    )
    cands = lsh_candidate_pairs(minhash_signature(sig_src, id_col, k), id_col, k, bands)
    return _exact_jaccard(sh, id_col, min_jaccard, cands)


# ------------------------------------------------------------------ SimHash


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash over the distinct token set: bit_k = sign of
    Σ_tokens (2·bit_k(h(token)) − 1), h = first ``bits`` bits of md5
    (bits ≤ 60 so the signature fits a BIGINT exactly).

    Built as pure SQL expressions (floor/pow/instr) with exact DuckDB
    parity (16-bit form is oracle-checked). One explode + one partial-agg
    shuffle; 64-ish-bit signatures cost ``bits`` sum-aggs — still one
    map-side-combined pass."""
    if bits > 60:
        raise ValueError("bits must be ≤ 60 (BIGINT-exact signature)")
    n_hex = (bits + 3) // 4
    # array_distinct already dedupes tokens WITHIN the doc, and ids are
    # unique by contract (one row per document) — an extra .distinct()
    # here would be a second full shuffle of every (id, token) row for
    # nothing. (r15-opt: fan_out_scan here was A/B'd and LOST ~0.4 s at
    # sf0.1 — one md5+conv per token is too little pre-shuffle work to
    # buy back the extra exchange; the shingle pipelines keep it.)
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t"),
    )
    # one md5 + one conv per token (identical value to the digit-by-digit
    # base-16 expansion it replaces: conv IS that expansion); bits via
    # integer shiftright, not a per-bit double POW — same numbers, cheaper
    withv = toks.withColumn(
        "v",
        F.expr(f"CAST(conv(substring(md5(t), 1, {n_hex}), 16, 10) AS BIGINT)"),
    )
    bit_sums = [
        F.sum(F.expr(f"2 * (shiftright(v, {k}) % 2) - 1")).alias(f"b{k}")
        for k in range(bits)
    ]
    sums = withv.groupBy(id_col).agg(*bit_sums)
    sh_expr = " + ".join(
        f"(CASE WHEN b{k} >= 0 THEN 1 ELSE 0 END) * CAST({2 ** k} AS BIGINT)"
        for k in range(bits)
    )
    return sums.select(F.col(id_col), F.expr(sh_expr).alias("simhash"))


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash (the oracle-checked form)."""
    return simhash(df, id_col, text_col, bits=16)


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming (≤ 3).

    Candidates via 4 equal bands (pigeonhole: d ≤ 3 ⇒ ≥1 band equal — the
    banded join is exact, not approximate), verified with bit_count(xor).
    Band extraction uses integer DIV (double division is inexact past 2^53
    for wide signatures).

    The banded table is persist()ed across the self-join (measured win —
    see inline A/B note). Cached blocks outlive the returned DataFrame, so
    CALLERS OWN THE CLEANUP: after the consuming action, call
    ``release_cached(result)`` (or ``result._scio_cached.unpersist()``) to
    drop the #docs×4-row cache from the session. The handle is a Python
    attribute on THIS DataFrame object — any further transformation
    (filter/select/join) returns a new DataFrame WITHOUT it, so keep a
    reference to the operator's direct result for the cleanup call."""
    band_width = bits // 4
    sh = simhash(df, id_col, text_col, bits)
    nibbles = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"(simhash DIV CAST({2 ** (b * band_width)} AS BIGINT)) "
                    f"% CAST({2 ** band_width} AS BIGINT)"
                ).alias("nib"),
            )
            for b in range(4)
        ]
    )
    # persist the banded table (#docs × 4 rows) across the self-join: the
    # upstream 32-sum-agg signature is expensive enough that materializing
    # beats recompute here (fresh-session A/B: 4.5 s vs 5.5 s cold at
    # sf0.1) — the OPPOSITE call from lsh_candidate_pairs, where the
    # cheap-to-recompute bands make persist a 45% loss
    banded = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(nibbles).alias("bb")
    ).select(
        id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.nib").alias("nib")
    ).persist()
    a = banded.withColumnRenamed(id_col, "id_1").withColumnRenamed("simhash", "sh_1")
    b = banded.withColumnRenamed(id_col, "id_2").withColumnRenamed("simhash", "sh_2")
    # filter on hamming BEFORE the distinct: the band join's fan-out is the
    # big intermediate; post-filter dedup shuffles only surviving pairs
    pairs = (
        a.join(b, ["band", "nib"])
        .filter(F.col("id_1") < F.col("id_2"))
        .withColumn("hamming", F.expr("bit_count(sh_1 ^ sh_2)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
        .distinct()
    )
    pairs._scio_cached = banded  # caller-owned cleanup handle
    return pairs


def stage_bounded(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize an intermediate that the caller references several
    times and cut its lineage — the module's one checkpoint policy: the
    O(batch) staging point of the MinHash / embedding-LSH / semantic
    incremental paths, and every ``connected_components`` round.
    Default: ``localCheckpoint`` (executor-memory blocks; re-adjudicated
    r16 under the cold protocol vs lazy persist and vs no materialization
    — see OPTIMIZATION_r16.md). On a CLUSTER pass ``checkpoint_dir``
    (shared storage) for a reliable ``DataFrame.checkpoint`` that
    survives executor loss (ADVICE r15: the eager localCheckpoint sites
    truncate lineage, so an executor loss otherwise fails the query
    instead of recomputing)."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir makes a fresh subdirectory on every call: set it
        # once per checkpoint_dir, not once per staged intermediate
        _, path, fs = _fs(df.sparkSession, checkpoint_dir)
        current = (sc.getCheckpointDir() or "").rsplit("/", 1)[0]
        if current != fs.makeQualified(path).toString():
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()
    return df.localCheckpoint()


def release_cached(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist the internal cache(s) an operator attached to its result
    (``_scio_cached`` — one DataFrame or a list of them). Call AFTER the
    consuming action; no-op for results without an attached cache."""
    cached = getattr(df, "_scio_cached", None)
    if cached is None:
        return
    for c in cached if isinstance(cached, (list, tuple)) else [cached]:
        if c is not None:
            c.unpersist(blocking)


# ----------------------------------------------------- duplicate clustering


def connected_components(
    pairs: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster duplicate-candidate PAIRS into groups — the step every dedup
    family above feeds: pair lists are not actionable until transitively
    closed (A~B, B~C ⇒ {A,B,C} is one group with one canonical survivor).

    Returns (node, comp) where comp = min node id reachable from the node.

    Spark-first iterative min-label propagation: each round, every node
    takes the min of its own label and its neighbors' labels (one shuffle
    join + one partial-aggregated groupBy per round); converges in
    O(component diameter) rounds — near-cliques from near-dup detection
    close in 2-3. Each round checkpoints the labels so the plan stays
    constant-size instead of growing a join per iteration:
    ``checkpoint_dir=None`` (default, single-node/tests) truncates lineage
    with ``localCheckpoint`` (executor-memory blocks — lost on executor
    failure); on a CLUSTER pass ``checkpoint_dir`` (shared storage) for
    reliable ``DataFrame.checkpoint`` — survives executor loss, the 100 TB
    setting. The alternating large-star/small-star optimization
    (Kiveris et al., "Connected Components in MapReduce") halves rounds for
    high-diameter graphs; dup graphs are shallow, so the simple form wins
    on constant factors."""
    # r16 note: a lazy-persist variant of this staging (cache instead of
    # localCheckpoint, materialized by the mass-check aggs) was built and
    # cold-A/B'd — it LOST badly (dedup_clusters 6.9/3.8 -> 11-53 s
    # cold/warm across interleaved fresh-session runs; InMemoryRelation
    # columnar encode + cache-miss recompute through nested cached plans
    # swamps the ~0.2 s/job the eager checkpoints cost) and was reverted.
    # The eager localCheckpoint-per-round form below is the measured
    # winner; the plan-truncation property it provides is also what keeps
    # deep (20+ round) graphs analyzer-safe.
    # Materialize the incoming pair list BEFORE the symmetrize-union: the
    # union references it twice, and Spark re-executes a non-materialized
    # subtree per reference — when ``pairs`` is an expensive dedup
    # pipeline (shingle index + jaccard verify), that doubled the whole
    # upstream cost (measured r13: 161 s -> 55 s for dedup_clusters at
    # sf1, where pair generation dominates).
    e = stage_bounded(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")), checkpoint_dir
    )
    edges = stage_bounded(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        checkpoint_dir,
    )
    labels = stage_bounded(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        checkpoint_dir,
    )
    def label_mass(lbl: DataFrame):
        # exact decimal sum — labels are monotonically non-increasing, so
        # the mass strictly decreases iff ANY label changed this round:
        # a one-agg convergence check on the already-materialized
        # checkpoint, replacing a full old-vs-new label self-join per round
        return lbl.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("m")
        ).collect()[0]["m"]

    mass = label_mass(labels)
    for _it in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("b"), F.col("comp").alias("nbr_comp")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("nbr_comp"))
        )
        new_labels = stage_bounded(
            labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
                "node", F.least(F.col("comp"), F.col("nbr_comp")).alias("comp")
            ),
            checkpoint_dir,
        )
        new_mass = label_mass(new_labels)
        labels = new_labels
        if new_mass == mass:
            return labels
        mass = new_mass
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — the "
        "graph has a component with diameter beyond the cap (returning the "
        "partial labels would silently merge clusters wrong). Raise "
        "max_iter, or for genuinely deep graphs use the alternating "
        "large-star/small-star variant (halves rounds; Kiveris et al.)."
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_1",
    dst: str = "id_2",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Attach a duplicate-group label to every document: docs in some pair
    get their component's min id as ``comp``; singletons are their own
    component. The canonical survivor per group = the doc with
    ``doc_id == comp`` (deterministic min-id policy). Pass ``checkpoint_dir``
    (shared storage) on a cluster — see connected_components."""
    comps = connected_components(
        pairs, src=src, dst=dst, checkpoint_dir=checkpoint_dir
    )
    out = (
        df.join(comps, df[id_col] == comps.node, "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col(id_col)))
        .drop("node")
    )
    _c = getattr(comps, "_scio_cached", None)
    if _c is not None:
        out._scio_cached = _c
    return out


# --------------------------------------------------- eval decontamination


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Training-vs-eval n-gram decontamination (the GPT-3 appendix-C /
    Pile-style step): flag every training document sharing at least
    ``min_overlap`` distinct n-grams with the eval corpus, so eval examples
    leaking into the training set are caught before training, not after.

    Returns (id_col, n_overlapping) for flagged training docs.

    Shuffle shape: shingle both sides (dedup.shingles — same tokenizer as
    the dedup families, so one shingle table can serve both when staged),
    reduce the eval side to its DISTINCT shingle set, inner-join and count
    distinct overlaps per training doc. The eval shingle set is tiny next
    to the corpus — Catalyst broadcasts it (or the runtime Bloom join
    prefilters) so the training side never shuffles on the shingle key; at
    web scale cap near-universal shingles first with
    ``cap_shingle_frequency`` to keep the join selective."""
    t = shingles(train, id_col, text_col, n)
    e = (
        shingles(eval_df, id_col, text_col, n, fan_out=False)
        .select("s")
        .distinct()
    )
    return (
        t.join(e, "s")
        .groupBy(id_col)
        .agg(F.countDistinct("s").alias("n_overlapping"))
        .filter(F.col("n_overlapping") >= min_overlap)
    )


def contamination_fraction(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-document contamination FRACTION — the GPT-3 appendix-C "dirty
    document" metric the count-based ``ngram_contamination`` flag doesn't
    expose: for every training doc with at least one n-gram, the share of
    its DISTINCT n-grams that appear anywhere in the eval corpus.
    Returns (id_col, n_shingles, n_hit, frac) for ALL scored docs
    (frac = 0.0 for clean ones), so callers can sweep thresholds
    ("drop if > 10% dirty") instead of a fixed flag.

    Shuffle shape matches ngram_contamination: the eval side reduces to a
    distinct shingle set (broadcast/Bloom-joined), the training side
    never shuffles on the shingle key; the per-doc rollup is one
    partial-agg'd shuffle on the id."""
    # train-side fan-out kept (r16 re-adjudication of the driver's 0.66×
    # on contamination_report): fresh-session interleaved A/B, fan-out ON
    # cold {1.68, 1.87, 2.44} vs OFF {1.68, 1.82, 2.08} — no reproducible
    # penalty on this host, and the shingle fan-out family's sf1 evidence
    # (r15) says the win grows with data; the driver number was host
    # drift. decontaminate A/B'd alongside with the same conclusion.
    t = shingles(train, id_col, text_col, n)
    e = (
        shingles(eval_df, id_col, text_col, n, fan_out=False)
        .select("s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        t.join(e, "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn(
            "frac", F.col("n_hit") / F.col("n_shingles")
        )
    )


# ------------------------------------------------------- incremental dedup


def stage_minhash_index(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    buckets: int = 64,
) -> DataFrame:
    """Persist the corpus's LSH band-bucket index as a bucketed table on
    (band, bucket) — the historical side of INCREMENTAL dedup: a daily crawl
    batch dedups against years of corpus without ever re-shingling or
    re-signing the corpus. Append each accepted batch's bands to keep the
    index current (``smb.save_sorted_bucket(..., mode="append")`` keeps
    the bucket spec)."""
    sh = shingles(df, id_col, text_col, n)
    banded = minhash_bands(minhash_signature(sh, id_col, k), id_col, k, bands)
    # align writer tasks to buckets: repartition on the bucket columns uses
    # the same hash family as bucketBy, so each task holds whole buckets and
    # the table lands as ~`buckets` files instead of tasks × buckets tiny
    # files (32×64 = 2048 at the test shuffle width — measured 2x slower)
    return save_sorted_bucket(
        banded.repartition(buckets, F.col("band"), F.col("bucket")),
        table, ["band", "bucket"], buckets,
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Candidate near-dup pairs for a NEW batch against an existing
    ``stage_minhash_index`` table, plus new-vs-new pairs: returns
    (id_1, id_2) with id_1 < id_2 where at least one side is a new doc.

    Cost scales with the BATCH, not the corpus: the batch's bands join the
    bucketed index co-located by (band, bucket) — the corpus is read, never
    re-hashed, and only index rows in buckets the batch touches leave the
    scan. This is the shape that makes continuous corpus ingestion O(new)
    instead of O(corpus) per day."""
    sh = shingles(new_docs, id_col, text_col, n)
    # Materialize the batch's band table once (r15-opt): it is read three
    # times below (index join + both sides of the new-vs-new self-join),
    # and each un-checkpointed reference re-runs the whole shingle +
    # minhash pipeline. The batch is O(day) × bands rows by design.
    new_bands = stage_bounded(
        minhash_bands(minhash_signature(sh, id_col, k), id_col, k, bands),
        checkpoint_dir,
    )
    return incremental_probe(new_bands, index, id_col, ["band", "bucket"])


# ------------------------------------------------------ line-level dedup


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = ". ",
    sep_regex: str = r"\. ",
    max_doc_freq: int = 5,
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level dedup: split each document into
    lines (here sentence-ish units on ``sep``), drop every line that occurs
    in more than ``max_doc_freq`` DISTINCT documents (cross-document
    boilerplate: headers, cookie banners, licence blurbs), and reassemble
    the survivors in original order.

    Returns (id_col, text_clean, n_kept, n_removed).

    100 TB shape: the boilerplate line set (distinct lines repeated across
    >max_doc_freq docs) is computed with one partial-aggregated shuffle on
    md5(line), then applied as an anti-join against the exploded
    (doc, pos, line) table. The boiler side is usually small relative to
    the corpus but is NOT bounded by construction (a 10^11-doc crawl can
    hold 10^8+ distinct boilerplate lines), so it carries no broadcast
    hint — AQE broadcasts it when the measured size allows (every local
    scale) and falls back to a shuffle anti-join on the hash when it
    doesn't. Reassembly is a single groupBy(id) with an order-restoring
    sort_array, the one unavoidable shuffle."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy(F.md5("line").alias("line_hash"))
        .agg(F.count_distinct(F.col(id_col)).alias("df_"))
        .filter(F.col("df_") > max_doc_freq)
        .select("line_hash")
    )
    kept = lines.join(
        boiler,
        F.md5(F.col("line")) == F.col("line_hash"),
        "left_anti",
    )
    n_lines = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep_regex)).alias("n_lines"),
    )
    out = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(n_lines, id_col, "right")
    )
    return out.select(
        id_col,
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


# -------------------------------------------------- cross-source overlap

def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Duplicate contamination matrix between corpus sources: for every
    unordered source pair (a < b), how many distinct document fingerprints
    (token-sort md5 — text.fingerprint, the word-order/case-insensitive
    exact-dedup key) appear in BOTH — the first question when mixing
    crawls/dumps ("how much of source B is already in A?") and the sanity
    check before weighting a mixture (functions/training.py mixture_sample).

    Cost shape at 100 TB: distinct (hash, source) is one partially-aggregated
    shuffle; the self-join key is the fingerprint, whose groups are at most
    |sources| rows after the distinct, so the join fan-out is bounded by
    |sources|² per distinct text — no skew risk from popular texts beyond
    that cap. Returns (source_a, source_b, n_shared), source_a < source_b."""
    from scio_spark.functions.text import fingerprint

    hs = (
        df.select(
            fingerprint(text_col).alias("__h"),
            F.col(source_col).alias("__src"),
        )
        .distinct()
    )
    a = hs.select("__h", F.col("__src").alias("source_a"))
    b = hs.select("__h", F.col("__src").alias("source_b"))
    return (
        a.join(b, "__h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
