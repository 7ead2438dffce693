"""Exact-substring (duplicated n-gram span) dedup for training corpora.

Beyond-reference curation operator, after the ExactSubstr procedure of
"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2022, public): any token span of length ≥ n that occurs more than once in
the corpus is a duplicate; every occurrence EXCEPT THE FIRST (corpus order:
(doc_id, position)) is marked, and stripping removes the marked spans while
keeping the first occurrence intact. The reference pipeline builds one
giant suffix array — a single-machine design; the Spark-first shape below
gets the same n-gram-resolution answer with bounded shuffles:

1. tokenize → positional n-grams (one explode; grams stay JVM-side),
2. first occurrence per gram = ``min(doc_id * 2^24 + pos)`` (one encoded
   BIGINT — hash-aggregable with map-side combine), deliberately NOT a
   row_number window: a hot boilerplate gram would make a per-gram sort
   skew-bound, while min() stays mergeable no matter how hot the gram
   (``_first_occurrences``, shared by the full pass, the staged gram index
   and the incremental batch),
3. later occurrences (anti-first) → per-doc interval merge of their
   [pos, pos+n-1] spans with the classic islands pattern (running max over
   a per-doc window — the only per-doc sort, bounded by doc length)
   (``_span_tail``, shared by the full and the incremental pass),
4. mark (span list + duplicated-token count) or strip (rebuild text
   without marked token indexes).

Scale notes: the gram shuffle carries gram text; at 100 TB pass
``hash_grams=True`` to shuffle 64-bit xxhash64 fingerprints instead
(collision odds ~(grams²)/2⁶⁵ — fine for dedup, not for an exact oracle,
hence the flag; parity between modes is pinned in tests). `min_count`
raises the duplication threshold (e.g. only spans seen ≥10× — boilerplate
removal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scio_spark.operators.smb import save_sorted_bucket

from .text import tokens

# (doc_id, pos) pairs are compared/aggregated as ONE encoded BIGINT
# id * 2^24 + pos: numeric MIN is hash-aggregable (min(struct) falls back
# to SortAggregate) and the anti-first filter is a single comparison.
# Contract bounds: pos < 2^24 tokens per doc, |id| < 2^39.
_ENC_BASE = 1 << 24
_ID_BOUND = 1 << 39


def _positional_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_grams: bool
) -> DataFrame:
    """(id, pos, gram) for every n-gram; docs shorter than n emit none.

    The id column must be integral: the downstream first-occurrence
    aggregate encodes (id, pos) into one BIGINT (id * 2^24 + pos). With a
    string id Spark would promote string*int to DOUBLE — non-numeric ids
    go NULL (no duplicate ever detected, silently) and numeric-looking
    ones lose exactness past 2^53 — so reject it up front."""
    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"substr_dedup requires an integral {id_col!r} (got "
            f"{id_type.simpleString()}): the (doc_id, pos) first-occurrence "
            "encoding is exact only for BIGINT ids with |id| < 2^39. Map "
            "string ids to a BOUNDED surrogate first, e.g. "
            "df.withColumn('doc_no', pmod(xxhash64(id_col), lit(2**39))) "
            "or a row_number()/zipWithIndex assignment — NOT raw xxhash64, "
            "whose full-range signed output violates the bound."
        )
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("_id"),
        tokens(F.col(text_col)).alias("_t"),
    )
    # the length guard is over a computed array — inherently not pushable;
    # the isNotNull above gives the scan its pushed predicate
    toks = toks.filter(F.size("_t") >= n)
    # runtime enforcement of the documented encoding bounds (pos < 2^24
    # AND |id| < 2^39, one comparison each per DOC, not per gram): an
    # overlong doc or an out-of-range id would otherwise silently corrupt
    # first-occurrence selection (id*2^24 overflows BIGINT). The checks are
    # folded INTO the consumed _id column — an assert_true staged via
    # withColumn(...).drop() is pruned by Catalyst and never executes
    toks = toks.select(
        F.when(
            F.size("_t") >= _ENC_BASE,
            F.raise_error(
                F.concat(
                    F.lit("substr_dedup: document exceeds the 2^24-token "
                          "positional-encoding bound (doc "),
                    F.col("_id").cast("string"),
                    F.lit(", "),
                    F.size("_t").cast("string"),
                    F.lit(" tokens); split oversized documents upstream"),
                )
            ).cast("bigint"),
        )
        .when(
            # two-sided, not abs(): under non-ANSI semantics
            # abs(LONG_MIN) wraps to LONG_MIN (negative) and would slip
            # past a single-sided abs >= bound check
            (F.col("_id") >= F.lit(_ID_BOUND))
            | (F.col("_id") <= F.lit(-_ID_BOUND)),
            F.raise_error(
                F.concat(
                    F.lit("substr_dedup: doc id "),
                    F.col("_id").cast("string"),
                    F.lit(" exceeds the |id| < 2^39 encoding bound; remap "
                          "ids to a bounded surrogate, e.g. "
                          "pmod(xxhash64(id), 2^39) or row_number()"),
                )
            ).cast("bigint"),
        )
        .otherwise(F.col("_id"))
        .alias("_id"),
        "_t",
    )
    gram = F.transform(
        F.sequence(F.lit(0), F.size("_t") - n),
        lambda i: F.concat_ws("\x1f", F.slice("_t", i + 1, n)),
    )
    out = toks.select("_id", F.posexplode(gram).alias("pos", "gram"))
    if hash_grams:
        out = out.withColumn("gram", F.xxhash64("gram"))
    return out


def _enc():
    """(doc_id, pos) as ONE encoded BIGINT, id * 2^24 + pos."""
    return (F.col("_id") * _ENC_BASE) + F.col("pos")


def _first_occurrences(
    occ: DataFrame, first: str = "first_enc", cnt: str = "cnt"
) -> DataFrame:
    """(gram, first, cnt): each gram's first occurrence and occurrence
    count — one partial-agg'd shuffle on gram; immune to hot-gram skew
    (min/count are mergeable). The MIN is over the encoded BIGINT
    (``_enc``), so it stays a HashAggregate with map-side combine where
    min(struct) would sort every gram on both sides of the shuffle; the
    encoding's bounds are documented at ``_ENC_BASE`` (lexicographic
    (id, pos) order == numeric order within them)."""
    return occ.groupBy("gram").agg(
        F.min(_enc()).alias(first), F.count(F.lit(1)).alias(cnt)
    )


def _span_tail(
    df: DataFrame,
    occ: DataFrame,
    firsts: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_count: int,
) -> DataFrame:
    """From occurrences ``occ`` and per-gram (gram, first_enc, cnt) to the
    marked-span rows of every doc of ``df``: the occurrences of grams seen
    ≥ ``min_count`` times, minus each gram's first, merged into per-doc
    spans and joined back to the docs (no duplicates: empty list, 0)."""
    dup = (
        occ.join(firsts.filter(F.col("cnt") >= min_count), "gram")
        .filter(_enc() != F.col("first_enc"))
        .select("_id", "pos", (F.col("pos") + n - 1).alias("end"))
    )
    # islands: a new span starts where pos exceeds the running max end of
    # all earlier spans in the doc (per-doc sort only — bounded by doc len)
    w = Window.partitionBy("_id").orderBy("pos")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        dup.withColumn(
            "brk",
            F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1), 1).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
        .groupBy("_id", "island")
        .agg(F.min("pos").alias("start"), F.max("end").alias("end"))
    )
    per_doc = islands.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("start", "end"))).alias("spans"),
        F.sum(F.col("end") - F.col("start") + 1).alias("n_dup_tokens"),
    )
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).select(id_col, F.size("_t").alias("n_tokens"))
    return (
        base.join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(
                "spans", F.array().cast("array<struct<start:int,end:int>>")
            ).alias("spans"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.col("n_tokens").cast("long"),
        )
    )


def mark_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Per doc: merged duplicated-span list and token counts. Returns
    (id_col, spans array<struct<start,end>>, n_dup_tokens, n_tokens) with
    one row per input doc (docs with no duplicates: empty list, 0).

    First-occurrence-wins: the globally first (doc_id, pos) occurrence of
    each duplicated gram is NOT marked, so stripping never deletes the
    canonical copy."""
    from scio_spark.fanout import fan_out_scan

    df = fan_out_scan(df)  # positional n-gram explode runs pre-shuffle
    occ = _positional_ngrams(df, id_col, text_col, n, hash_grams)
    return _span_tail(df, occ, _first_occurrences(occ), id_col, text_col, n, min_count)


def stage_gram_index(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    hash_grams: bool = True,
    num_buckets: int = 64,
) -> DataFrame:
    """Persist the corpus gram index for incremental ingest: one row per
    distinct gram with its first occurrence and total count, written as a
    bucketed+sorted table on the gram key (same convention as
    ``dedup.stage_shingles``/``stage_minhash_index`` — batch joins
    co-locate by bucket instead of re-shuffling the corpus).
    ``hash_grams`` defaults ON here: an index keyed by 64-bit fingerprints
    is ~10× smaller than n-token strings and collision odds are
    dedup-grade."""
    occ = _positional_ngrams(df, id_col, text_col, n, hash_grams)
    return save_sorted_bucket(_first_occurrences(occ), table, "gram", num_buckets)


def incremental_duplicate_spans(
    batch: DataFrame,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    min_count: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Mark duplicated spans in a NEW batch against corpus + batch without
    re-processing the corpus (the continuous-ingest shape, matching
    ``dedup.incremental_lsh_candidates``): a batch gram is duplicated if
    (corpus count + batch count) ≥ min_count, and its first occurrence is
    the corpus one when the corpus has seen the gram. Cost is O(batch)
    grams + a join against the index pruned to the batch's gram keys; the
    corpus is never re-tokenized. Same output contract as
    ``mark_duplicate_spans``. After accepting a batch, refresh the index
    by merging the batch grams (min-first / summed counts).

    Equivalence contract with a full rebuild: ingest ids must be
    monotone (batch ids > corpus ids), so the corpus occurrence is always
    the global first — the natural shape for append-only ingest."""
    spark = batch.sparkSession
    idx = spark.table(index_table).select(
        "gram",
        F.col("first_enc").alias("_corpus_first"),
        F.col("cnt").alias("_corpus_cnt"),
    )
    # occ feeds both the gram-count aggregation and the duplicate-
    # occurrence join below; a localCheckpoint here (the shape that wins
    # 2x in dedup.incremental_lsh_candidates / the embedding/semantic
    # incrementals) was A/B'd r15-opt and LOST (warm 1.5 -> 2.0 s at
    # sf0.1): unlike the O(batch) band/signature tables, occ is
    # O(batch tokens) rows and materializing it costs more than
    # re-running the explode. Leave the diamond to the optimizer.
    occ = _positional_ngrams(batch, id_col, text_col, n, hash_grams)
    g = _first_occurrences(occ, "_batch_first", "_batch_cnt").join(idx, "gram", "left")
    merged = g.select(
        "gram",
        F.coalesce("_corpus_first", "_batch_first").alias("first_enc"),
        (F.coalesce("_corpus_cnt", F.lit(0)) + F.col("_batch_cnt")).alias("cnt"),
    )
    return _span_tail(batch, occ, merged, id_col, text_col, n, min_count)


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Rebuild each doc without its marked duplicate spans (whitespace-
    normalized output; first occurrences survive). Returns the input
    columns with ``text_col`` replaced and ``n_dup_tokens`` appended."""
    marked = mark_duplicate_spans(df, id_col, text_col, n, min_count, hash_grams)
    joined = df.join(marked, id_col)
    keep = F.filter(
        F.transform(tokens(F.col(text_col)), lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: (s["i"] >= sp["start"]) & (s["i"] <= sp["end"]),
        ),
    )
    other = [c for c in df.columns if c != text_col]
    return joined.select(
        *other,
        F.concat_ws(" ", F.transform(keep, lambda s: s["t"])).alias(text_col),
        "n_dup_tokens",
    )
