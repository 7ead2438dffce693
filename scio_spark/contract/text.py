"""Text and dedup contract queries: quality signals, language id, LM
scoring, TF-IDF, tokenization, PII scrubbing and chunking; the exact,
MinHash, SimHash, n-gram, substring, winnowing and line dedup families;
decontamination and the end-to-end curation pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _ctx, _t


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality components (scio_spark.functions.text) —
    single JVM-side pass over documents, no UDFs."""
    from scio_spark.fanout import fan_out_scan
    from scio_spark.functions import text as T

    sc = _ctx(spark)
    # r15-opt: fan the narrow scan to width (0.31-0.34 -> 0.27 s warm).
    d = fan_out_scan(_t(sc, sf_dir, "documents").df)
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.char_count("text").alias("n_chars_m"),
        T.mean_word_len("text").alias("mean_wlen"),
        T.punct_ratio("text").alias("punct_ratio"),
    )


ORACLE_TEXT_FEATURES = r"""
WITH f AS (
  SELECT doc_id, text,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
      AS n_tokens
  FROM documents
)
SELECT doc_id,
  n_tokens,
  len(text) AS n_chars_m,
  CASE WHEN n_tokens = 0 THEN 0.0
       ELSE len(regexp_replace(trim(text), '\s+', '', 'g')) / n_tokens
  END AS mean_wlen,
  CASE WHEN len(text) = 0 THEN 0.0
       ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / len(text) END AS punct_ratio
FROM f
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (functions/text.py with_quality_score —
    staged so shared components are computed once)."""
    from scio_spark.functions import text as T

    from scio_spark.fanout import fan_out_scan

    sc = _ctx(spark)
    # r15-opt: fan the narrow scan to width for the per-row quality
    # expressions (0.59-0.66 -> 0.37-0.53 s warm at sf0.1).
    d = fan_out_scan(_t(sc, sf_dir, "documents").df)
    return T.with_quality_score(d, "text").select("doc_id", "quality")


# the same arithmetic, spelled out for DuckDB (n>0 for every fixture doc)
ORACLE_TEXT_QUALITY = r"""
WITH f AS (
  SELECT doc_id,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
      AS n,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        t -> list_contains(['the','a','of','and','to','in','is','it'], lower(t)))) AS sw,
    len(regexp_replace(trim(text), '\s+', '', 'g')) AS chars_nospace,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / len(text) END AS pr
  FROM documents
)
SELECT doc_id,
  least(n / 200.0, 1.0) * 0.25
  + least((CASE WHEN n = 0 THEN 0.0 ELSE sw / n END) / 0.4, 1.0) * 0.35
  + (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE chars_nospace / n END) >= 3.0
           AND (CASE WHEN n = 0 THEN 0.0 ELSE chars_nospace / n END) <= 10.0
      THEN 1.0 ELSE 0.4 END) * 0.25
  + (1.0 - least(pr * 4.0, 1.0)) * 0.15 AS quality
FROM f
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword argmax + CJK check) per doc — staged
    so the per-language hit counts are computed once."""
    from scio_spark.functions import text as T

    from scio_spark.fanout import fan_out_scan

    sc = _ctx(spark)
    # r15-opt: stopword-hit counting is per-row expression work; fan the
    # narrow scan to width (0.88-1.05 -> 0.44-0.50 s warm at sf0.1).
    d = fan_out_scan(_t(sc, sf_dir, "documents").df)
    return T.with_lang_id(d, "text").select("doc_id", "lang_pred")


def _sw_hits(lang_list: str) -> str:
    return (
        r"len(list_filter(regexp_split_to_array(trim(text), '\s+'), "
        f"t -> list_contains([{lang_list}], lower(t))))"
    )


_HITS = {
    "en": _sw_hits("'the','a','of','and','to','in','is','it'"),
    "de": _sw_hits("'der','die','das','und','ist','nicht','ein','zu'"),
    "fr": _sw_hits("'le','la','et','les','des','un','une','est'"),
    "es": _sw_hits("'el','los','las','y','es','un','una','que'"),
}


ORACLE_LANG_ID = rf"""
WITH h AS (
  SELECT doc_id,
    {_HITS['en']} AS en, {_HITS['de']} AS de, {_HITS['fr']} AS fr, {_HITS['es']} AS es,
    len(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 AS has_cjk
  FROM documents
)
SELECT doc_id,
  CASE WHEN has_cjk THEN 'zh'
       WHEN en + de + fr + es = 0 THEN 'und'
       WHEN en >= de AND en >= fr AND en >= es THEN 'en'
       WHEN de >= fr AND de >= es THEN 'de'
       WHEN fr >= es THEN 'fr'
       ELSE 'es' END AS lang_pred
FROM h
"""


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort fingerprint (functions/text.py) as a fuzzy-exact dedup key:
    groups by fingerprint, keeps min doc_id."""
    from scio_spark.functions import text as T

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df
    return (
        d.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


ORACLE_FINGERPRINT = r"""
SELECT md5(array_to_string(list_sort(list_distinct(list_filter(
         regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''))), ' '))
         AS fp,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (functions/dedup.py exact_dedup_groups)."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    return D.exact_dedup_groups(_t(sc, sf_dir, "documents").df)


ORACLE_DEDUP_EXACT = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, s FROM toks,
  UNNEST(list_transform(generate_series(1, len(w) - 2),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) u(s)),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
jac AS (SELECT id_1, id_2, inter / (ca.n + cb.n - inter) AS jaccard
        FROM pairs JOIN cnt ca ON ca.doc_id = id_1 JOIN cnt cb ON cb.doc_id = id_2)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs ≥ 0.8 via shingle inverted-index
    join (functions/dedup.py ngram_jaccard_dedup)."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    return D.ngram_jaccard_dedup(_t(sc, sf_dir, "documents").df, min_jaccard=0.8)


ORACLE_NGRAM_JACCARD = f"""
WITH {_SHINGLE_CTE}
SELECT id_1, id_2, jaccard FROM jac WHERE jaccard >= 0.8
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (functions/dedup.py ngram_contamination):
    docs with doc_id % 29 == 0 play the eval set; flag all other docs
    sharing ≥1 distinct 3-gram with it, with the overlap count."""
    from scio_spark.functions.dedup import ngram_contamination

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    ev = docs.filter(F.col("doc_id") % 29 == 0)
    tr = docs.filter(F.col("doc_id") % 29 != 0)
    return ngram_contamination(tr, ev)


ORACLE_DECONTAMINATE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id, s FROM toks,
  UNNEST(list_transform(generate_series(1, len(w) - 2),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) u(s)),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 29 = 0),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 29 <> 0)
SELECT tr.doc_id, COUNT(DISTINCT tr.s) AS n_overlapping
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id
"""


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-fraction report (dedup.py contamination_fraction —
    the GPT-3 appendix-C dirty-document metric): docs with doc_id % 37
    == 0 play the eval set; every other doc is scored by the share of its
    distinct 5-grams found in the eval corpus. Per source: scored docs,
    docs over the 10% dirty threshold, and the exact hit/shingle integer
    sums (engine-exact; frac itself is a single double division, so the
    threshold compare is bit-identical in both engines)."""
    from scio_spark.functions.dedup import contamination_fraction

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    scored = contamination_fraction(tr, ev, n=5)
    return scored.join(docs.select("doc_id", "source"), "doc_id").groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs_scored"),
        F.sum(F.when(F.col("frac") > 0.10, 1).otherwise(0))
        .cast("long")
        .alias("n_dirty"),
        F.sum("n_hit").cast("long").alias("sum_hits"),
        F.sum("n_shingles").cast("long").alias("sum_shingles"),
    )


ORACLE_CONTAMINATION_REPORT = """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
              FROM documents),
sh AS (SELECT DISTINCT doc_id, source, s FROM toks,
  UNNEST(list_transform(generate_series(1, len(w) - 4),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4])) u(s)),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
tr AS (SELECT doc_id, source, s FROM sh WHERE doc_id % 37 <> 0),
per AS (
  SELECT tr.doc_id, tr.source,
         COUNT(*) AS n_shingles,
         SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM tr LEFT JOIN ev ON tr.s = ev.s
  GROUP BY tr.doc_id, tr.source
)
SELECT source, COUNT(*) AS n_docs_scored,
       CAST(SUM(CASE WHEN n_hit / CAST(n_shingles AS DOUBLE) > 1e-1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
       CAST(SUM(n_hit) AS BIGINT) AS sum_hits,
       CAST(SUM(n_shingles) AS BIGINT) AS sum_shingles
FROM per GROUP BY source
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus profile (functions/text.py corpus_stats): doc count,
    token totals, exact p50/p99 doc length, exact vocabulary size."""
    from scio_spark.functions.text import corpus_stats

    sc = _ctx(spark)
    return corpus_stats(_t(sc, sf_dir, "documents").df)


ORACLE_CORPUS_STATS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
core AS (
  SELECT COUNT(*) AS total_docs,
         CAST(SUM(len(w)) AS BIGINT) AS total_tokens,
         quantile_cont(len(w), 0.5) AS p50_tokens,
         quantile_cont(len(w), 0.99) AS p99_tokens
  FROM t),
v AS (SELECT COUNT(DISTINCT u.word) AS vocab_size
      FROM t, UNNEST(w) u(word))
SELECT core.*, v.vocab_size FROM core, v
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (functions/text.py
    repetition_signals): distinct-word ratio, top-word fraction, duplicate
    bigram fraction per document — exact integer-ratio arithmetic, so the
    DuckDB replay matches bit-for-bit."""
    from scio_spark.functions.text import repetition_signals

    from scio_spark.fanout import fan_out_scan

    sc = _ctx(spark)
    # r15-opt: per-row n-gram repetition expressions are the expensive
    # pre-shuffle stage; fan a narrow scan to width (no-op at scale).
    # Measured 1.4-1.8 -> 1.2-1.3 s warm at sf0.1.
    return repetition_signals(fan_out_scan(_t(sc, sf_dir, "documents").df))


ORACLE_TEXT_REPETITION = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (
  SELECT doc_id, len(w) AS n_tokens,
         len(list_distinct(w)) * 1.0 / len(w) AS distinct_word_ratio,
         CASE WHEN len(w) >= 2 THEN
           1.0 - len(list_distinct(list_transform(
                     generate_series(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1]))) * 1.0 / (len(w) - 1)
         ELSE 0.0 END AS dup_bigram_fraction,
         w
  FROM t),
wc AS (SELECT doc_id, u.word, COUNT(*) AS c
       FROM t, UNNEST(w) u(word) GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS topc FROM wc GROUP BY 1)
SELECT b.doc_id, b.n_tokens, b.distinct_word_ratio,
       top.topc * 1.0 / b.n_tokens AS top_word_fraction,
       b.dup_bigram_fraction
FROM base b JOIN top USING (doc_id)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group clustering: transitive closure of the MinHash-LSH
    ≥0.8 pair set via iterative min-label propagation (functions/dedup.py
    connected_components) — every clustered doc labeled with its
    component's min doc_id. This is the production composition: LSH
    banding generates candidates at measured e≈0.8 (SCALING.md r13),
    where the exact inverted-index pair generator is Θ(Σ f_shingle²) —
    quadratic on a saturated-shingle corpus like this synthetic one
    (that exact path remains its own contract row,
    dedup_ngram_jaccard)."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    pairs = D.minhash_lsh_dedup(
        _t(sc, sf_dir, "documents").df, min_jaccard=0.8
    )
    comps = D.connected_components(pairs)
    out = comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("comp")
    )
    handles = getattr(comps, "_scio_cached", None) or []
    handles = list(handles) if isinstance(handles, (list, tuple)) else [handles]
    ph = getattr(pairs, "_scio_cached", None)
    if ph is not None:
        handles.append(ph)
    if handles:
        out._scio_cached = handles
    return out


def _minhash_cte_block(k: int = 16, bands: int = 4) -> str:
    """The shared MinHash-LSH CTE chain (shingles → jac → sig → banded →
    cands), WITHOUT the leading ``WITH`` or a final SELECT, so every
    oracle that needs the banded-candidate pair set composes it directly
    instead of slicing rendered SQL."""
    rpb = k // bands
    # 48-bit md5-slice BIGINT minhashes (dedup.minhash_signature) — the
    # engine-portable integer recipe, two hash functions sliced per md5
    # (hex chars 1-12 / 13-24); band bucket = md5 of the '|'-joined
    # decimal renderings
    mins = ", ".join(
        f"MIN(CAST(('0x' || substr(md5('{i // 2}|' || s),"
        f" {1 + 12 * (i % 2)}, 12)) AS BIGINT)) AS mh{i}"
        for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cc}) AS bucket FROM sig".format(
            b=b,
            cc=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""{_SHINGLE_CTE},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
banded AS ({band_selects}),
cands AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""


def _minhash_oracle(k: int = 16, bands: int = 4, thr: float = 0.8) -> str:
    return f"""
WITH {_minhash_cte_block(k, bands)}
SELECT j.id_1, j.id_2, j.jaccard
FROM jac j JOIN cands c ON j.id_1 = c.id_1 AND j.id_2 = c.id_2
WHERE j.jaccard >= {thr}
"""


# clusters over the SAME banded-candidate pair set _minhash_oracle pins
# (16 hashes / 4 bands, jaccard verified >= 0.8), transitively closed.
_MINHASH_ORACLE_CTES = _minhash_cte_block(16, 4)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_ORACLE_CTES},
dup_pairs AS (
  SELECT j.id_1, j.id_2 FROM jac j
  JOIN cands c ON j.id_1 = c.id_1 AND j.id_2 = c.id_2
  WHERE j.jaccard >= 0.8
),
-- MATERIALIZED: the reach recursion scans edges once per closure round;
-- un-materialized, every round would re-derive the whole minhash chain
-- (the pack_greedy sf1 lesson)
edges AS MATERIALIZED (SELECT id_1 AS a, id_2 AS b FROM dup_pairs
          UNION SELECT id_2, id_1 FROM dup_pairs),
reach(a, b) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a
"""


def _incremental_minhash_oracle(k: int = 16, bands: int = 4, mod: int = 5) -> str:
    """Bucket-sharing pairs where ≥1 side is in the NEW batch (doc_id %
    mod = 0) — banding per doc is independent of which set a doc is
    signed in, so the staged-index path equals this whole-corpus SQL."""
    rpb = k // bands
    mins = ", ".join(
        f"MIN(CAST(('0x' || substr(md5('{i // 2}|' || s),"
        f" {1 + 12 * (i % 2)}, 12)) AS BIGINT)) AS mh{i}"
        for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cc}) AS bucket FROM sig".format(
            b=b,
            cc=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLE_CTE},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
banded AS ({band_selects})
SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE a.doc_id % {mod} = 0 OR b.doc_id % {mod} = 0
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (functions/dedup.py stage_minhash_index +
    incremental_lsh_candidates): the corpus (doc_id % 5 != 0) is staged
    ONCE as a (band,bucket)-bucketed index table; the daily batch
    (doc_id % 5 = 0) bands itself and joins the index co-located —
    O(batch) per ingestion, the corpus is never re-hashed. Candidates =
    bucket-sharing pairs with ≥1 new side; the oracle recomputes them
    from the whole corpus in SQL (per-doc signatures are set-independent,
    so equality proves the staged path loses nothing)."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    index = D.stage_minhash_index(
        docs.filter("doc_id % 5 != 0"), "mh_index", k=8, buckets=16
    )
    return D.incremental_lsh_candidates(
        docs.filter("doc_id % 5 = 0"), index, k=8
    )


ORACLE_INCREMENTAL_DEDUP = _incremental_minhash_oracle(k=8)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates, exact-Jaccard-verified ≥ 0.8
    (functions/dedup.py minhash_lsh_dedup)."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    return D.minhash_lsh_dedup(
        _t(sc, sf_dir, "documents").df, k=16, bands=4, min_jaccard=0.8
    )


def _simhash_oracle(max_hamming: int = 3, bits: int = 16) -> str:
    hexs = "0123456789abcdef"
    n_hex = (bits + 3) // 4
    v = " + ".join(
        f"(instr('{hexs}', substring(md5(t), {i + 1}, 1)) - 1) * {16 ** (n_hex - 1 - i)}"
        for i in range(n_hex)
    )
    bit_sums = ", ".join(
        f"SUM(2 * (CAST(FLOOR(v / POW(2, {kk})) AS BIGINT) % 2) - 1) AS b{kk}"
        for kk in range(bits)
    )
    sh_expr = " + ".join(
        f"(CASE WHEN b{kk} >= 0 THEN 1 ELSE 0 END) * {2 ** kk}" for kk in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents)
),
v AS (SELECT doc_id, {v} AS v FROM toks),
sums AS (SELECT doc_id, {bit_sums} FROM v GROUP BY doc_id),
sh AS (SELECT doc_id, {sh_expr} AS simhash FROM sums)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-48 near-dup pairs, Hamming ≤ 3 — the realistic wide-signature
    configuration. Signature width is the scale dial: 12-bit band buckets
    (4096 per band) where 32-bit signatures left only 256 — at 50k docs
    the 8-bit bands were saturating (e≈1.5 measured sf0.1→sf1, and ~1.6k
    ACCIDENTAL hamming≤3 collisions — the output itself was going
    quadratic; 48-bit keeps expected random collisions ≪1; SCALING.md
    r13). Spark side uses exact banded candidates (pigeonhole); oracle
    is the full pairwise check — equality proves the banding loses
    nothing."""
    from scio_spark.functions import dedup as D

    sc = _ctx(spark)
    return D.simhash_dedup(
        _t(sc, sf_dir, "documents").df, max_hamming=3, bits=48
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.scrub_pii + pii_counts) — the pass
    every web corpus runs first. Deterministic synthetic PII (email / phone
    / IPv4 / SSN derived from doc_id) is appended to each document in BOTH
    engines, then counted and masked: a real regex-parity check of the
    RE2-compatible pattern set, chained global replaces."""
    from scio_spark.fanout import fan_out_scan
    from scio_spark.functions import text as T

    sc = _ctx(spark)
    # r15-opt: chained global regex replaces are per-row heavy; fan the
    # narrow scan to width (0.63-0.66 -> 0.30-0.40 s warm at sf0.1).
    d = fan_out_scan(_t(sc, sf_dir, "documents").df)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789"),
    )
    return d.select(
        "doc_id",
        *T.pii_counts(aug),
        T.scrub_pii(aug).alias("scrubbed"),
    )


ORACLE_PII_SCRUB = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com call 555-123-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 ssn 123-45-6789' AS t
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
    AS n_email,
  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
  len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
FROM aug
"""


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (functions/text.chunk_text) — the
    RAG-indexing / context-packing primitive: 32-token windows advancing by
    24 (8-token overlap), all JVM expressions, explode inside the scan
    stage (no shuffle)."""
    from scio_spark.functions import text as T

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df
    return T.chunk_text(d, chunk_tokens=32, overlap=8)


ORACLE_TEXT_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')
           AS t
  FROM documents
), nn AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s / 24 AS INT) AS chunk_id,
       len(list_slice(t, CAST(s AS INT) + 1, CAST(s AS INT) + 32)) AS n_tokens,
       array_to_string(list_slice(t, CAST(s AS INT) + 1, CAST(s AS INT) + 32), ' ')
         AS chunk
FROM nn, UNNEST(range(0, CAST(n AS BIGINT), 24)) AS u(s)
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022 ExactSubstr at n-gram
    resolution; functions/substr_dedup.py): duplicated 10-token spans are
    marked everywhere except their corpus-first occurrence, overlapping
    hits merged into maximal spans; per-source accounting of affected docs
    and duplicated tokens. Oracle replays the identical semantics in SQL
    (positional grams → first-occurrence window → islands interval merge).
    Scale path: min(struct) first-occurrence agg instead of a per-gram sort
    (hot boilerplate grams stay mergeable); the oracle-facing mode shuffles
    exact gram text, hash_grams=True (parity-tested) ships 64-bit
    fingerprints instead."""
    from scio_spark.functions.substr_dedup import mark_duplicate_spans

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df.select("doc_id", "source", "text")
    marked = mark_duplicate_spans(d, n=10)
    affected = marked.filter(F.col("n_dup_tokens") > 0).join(
        d.select("doc_id", "source"), "doc_id"
    )
    return affected.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_affected"),
        F.sum("n_dup_tokens").alias("sum_dup_tokens"),
    )


ORACLE_SUBSTRING_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(generate_series(1, len(t) - 9)) - 1 AS pos,
         unnest(list_transform(generate_series(1, len(t) - 9),
                i -> array_to_string(list_slice(t, i, i + 9), chr(31)))) AS gram
  FROM toks WHERE len(t) >= 10
),
occ AS (
  SELECT doc_id, source, pos,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY gram) AS cnt
  FROM grams
),
dup AS (
  SELECT doc_id, source, pos, pos + 9 AS e FROM occ WHERE cnt >= 2 AND rn > 1
),
isl AS (
  SELECT doc_id, source, pos, e,
         CASE WHEN pos > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl2 AS (
  SELECT doc_id, source, pos, e,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, source, island, MIN(pos) AS s, MAX(e) AS e
  FROM isl2 GROUP BY doc_id, source, island
),
per_doc AS (
  SELECT doc_id, source, SUM(e - s + 1) AS nd FROM spans GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs_affected,
       CAST(SUM(nd) AS BIGINT) AS sum_dup_tokens
FROM per_doc GROUP BY source
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM scoring (text.bigram_model/bigram_logprob —
    the CCNet-style upgrade over lm_score's unigram): per doc,
    bits-per-token of p = 0.75·p(w2|w1) + 0.25·p_uni(w2) over adjacent
    pairs. 0.75/0.25 are binary-exact so both engines interpolate
    identically; −log2 is DECIMAL(28,6)-quantized pre-sum (the lm_score
    determinism recipe). Output thinned to doc_id % 3 = 0 to keep the
    compare set bounded."""
    from scio_spark.functions.text import bigram_logprob

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df.select("doc_id", "text")
    return bigram_logprob(d).filter("doc_id % 3 = 0")


ORACLE_BIGRAM_LM = """
WITH tok AS (
  -- parallel unnests zip in DuckDB: (position, token) pairs
  SELECT doc_id,
         unnest(generate_series(1, len(w))) AS i,
         unnest(w) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
),
pairs AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
big AS (SELECT w1, w2, COUNT(*) AS cnt12 FROM pairs GROUP BY 1, 2),
lft AS (SELECT w1, COUNT(*) AS cnt1 FROM pairs GROUP BY 1),
bm AS (SELECT w1, w2, cnt12 / cnt1 AS p_bi FROM big JOIN lft USING (w1)),
ucnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
utot AS (SELECT SUM(cnt) AS t FROM ucnt),
um AS (SELECT token, cnt / t AS p_uni FROM ucnt, utot)
SELECT doc_id, COUNT(*) AS n_scored,
       CAST(CAST(SUM(CAST(-log2(0.75 * COALESCE(p_bi, 0.0) + 0.25 * p_uni)
                          AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS DOUBLE)
         AS bits_per_token
FROM pairs LEFT JOIN bm USING (w1, w2) JOIN um ON pairs.w2 = um.token
WHERE doc_id % 3 = 0
GROUP BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023; functions/dsir.py):
    choose the 100 non-English documents whose hashed-unigram token
    distribution is most English-like — log-importance under two add-1
    smoothed bucket models (target = lang='en', raw = the rest), token
    log-ratios DECIMAL(28,6)-staged before the per-doc sum so partition
    order and libm ulps cannot move the ranking, deterministic top-k with
    id tie-break. Models are ≤8192-row broadcasts; scoring is one
    explode + broadcast join + one shuffle on doc_id."""
    from scio_spark.functions.dsir import dsir_select

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df
    raw = d.filter("lang <> 'en'").select("doc_id", "lang", "text")
    target = d.filter("lang = 'en'").select("text")
    sel = dsir_select(raw, target, k=100, buckets=8192, mode="topk")
    return sel.join(raw.select("doc_id", "lang"), "doc_id").groupBy(
        "lang"
    ).agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


ORACLE_DSIR_SELECT = r"""
WITH raw AS (
  SELECT doc_id, lang, text FROM documents WHERE lang <> 'en'
),
ttok AS (
  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                x -> x <> '')) AS token
  FROM documents WHERE lang = 'en'
),
tb AS (
  SELECT CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) % 8192 AS bucket
  FROM ttok
),
tcnt AS (SELECT bucket, COUNT(*) AS cnt FROM tb GROUP BY bucket),
tn AS (SELECT SUM(cnt) AS n FROM tcnt),
rtok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                x -> x <> '')) AS token
  FROM raw
),
rb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) % 8192 AS bucket
  FROM rtok
),
rcnt AS (SELECT bucket, COUNT(*) AS cnt FROM rb GROUP BY bucket),
rn AS (SELECT SUM(cnt) AS n FROM rcnt),
ratio AS (
  SELECT COALESCE(t.bucket, r.bucket) AS bucket,
         CAST(COALESCE(LOG2((t.cnt + 1) / CAST(tn.n + 8192 AS DOUBLE)),
                       LOG2(1.0 / (tn.n + 8192)))
            - COALESCE(LOG2((r.cnt + 1) / CAST(rn.n + 8192 AS DOUBLE)),
                       LOG2(1.0 / (rn.n + 8192)))
           AS DECIMAL(28,6)) AS lr
  FROM tcnt t FULL OUTER JOIN rcnt r ON t.bucket = r.bucket
  CROSS JOIN tn CROSS JOIN rn
),
w AS (
  SELECT rb.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(lr) AS DECIMAL(28,6)) AS log_w
  FROM rb JOIN ratio USING (bucket) GROUP BY rb.doc_id
),
sel AS (
  SELECT doc_id, n_tokens FROM w ORDER BY log_w DESC, doc_id LIMIT 100
)
SELECT lang, COUNT(*) AS n_selected,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM sel JOIN raw USING (doc_id) GROUP BY lang
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprints (Schleimer et al. 2003, the MOSS
    algorithm; functions/text.py winnow_fingerprints — beyond-reference
    member of the fingerprint/dedup family beside the token-sort md5 and
    rolling-hash keys): k=5 token grams, windows of w=4 hashes, rightmost
    minimum per window. Guarantees any shared >= 8-token run between two
    docs shares a fingerprint at ~2/(w+1) density. Per source: selected
    fingerprints, distinct hashes, position checksum, and how many
    selected fingerprints are shared with another document anywhere in
    the corpus. Entirely integer math over engine-portable md5-prefix
    hashes, so the whole pipeline replays exactly in SQL."""
    from scio_spark.functions.text import winnow_fingerprints

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df.select("doc_id", "source", "text")
    # the fingerprint table feeds BOTH the shared-count aggregation and the
    # probe join (a diamond) — persist so the scan+explode runs once, not
    # twice (partial-agg vs probe exchanges differ, so ReuseExchange can't)
    fps = winnow_fingerprints(d, "doc_id", "text", k=5, w=4).persist()
    shared = fps.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
    enriched = fps.join(d.select("doc_id", "source"), "doc_id").join(
        shared, "fp"
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.countDistinct("fp").alias("n_distinct_fps"),
        F.sum("pos").cast("long").alias("pos_checksum"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_shared_fps"),
    )


ORACLE_WINNOW_FINGERPRINTS = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
hs AS (
  SELECT doc_id, source,
         list_transform(generate_series(1, len(t) - 4),
           i -> CAST(('0x' || substr(md5(
                  array_to_string(list_slice(t, i, i + 4), chr(31))), 1, 12))
                AS BIGINT)) AS h
  FROM toks WHERE len(t) >= 8
),
f AS (
  SELECT doc_id, source,
         e - (list_min(list_transform(generate_series(0, 3),
               r -> h[e - r] * 4 + r)) % 4) AS pos,
         list_min(list_transform(generate_series(0, 3),
               r -> h[e - r] * 4 + r)) // 4 AS fp
  FROM hs, UNNEST(generate_series(4, len(h))) AS u(e)
),
d AS (SELECT DISTINCT doc_id, source, pos, fp FROM f),
sh AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM d GROUP BY fp)
SELECT source, COUNT(*) AS n_fps,
       COUNT(DISTINCT fp) AS n_distinct_fps,
       CAST(SUM(pos) AS BIGINT) AS pos_checksum,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_fps
FROM d JOIN sh USING (fp) GROUP BY source
"""


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable BPE tokenizer end-to-end (beyond-reference text-analysis
    operator; functions/bpe.py): merges trained from the distributed word
    histogram (only the top-5k (word,count) rows reach the driver), then
    Arrow-batched subword encoding over all documents. The oracle-checked
    invariant is losslessness at corpus scale: re-joining each document's
    tokens and stripping end-of-word markers must reproduce the
    whitespace-normalized text, so sum(len(rebuilt)) per source equals the
    SQL-computable normalized length (any dropped/corrupted token breaks
    the hash). Segmentation itself is pinned to the published algorithm's
    worked example in tests/test_bpe.py."""
    from scio_spark.functions.bpe import END, bpe_tokenize, train_bpe

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df.select("doc_id", "source", "text")
    merges = train_bpe(d, "text", n_merges=200, max_words=5000)
    toks = d.select(
        "source", bpe_tokenize(F.col("text"), merges).alias("toks")
    )
    rebuilt = toks.select(
        "source",
        F.expr(f"rtrim(replace(array_join(toks, ''), '{END}', ' '))").alias(
            "rebuilt"
        ),
    )
    return rebuilt.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("rebuilt")).alias("sum_rebuilt_chars"),
    )


ORACLE_BPE_SEGMENT = r"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(array_to_string(
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> ''), ' '))) AS BIGINT) AS sum_rebuilt_chars
FROM documents GROUP BY source
"""


def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline — the flagship composition a training-
    data team actually runs, value-checked as ONE query: quality filter
    (with_quality_score ≥ 0.5) → exact dedup (min-id survivor per
    normalized-text group) → per-source corpus accounting (docs, tokens,
    decimal-staged quality mass). Every stage is an operator that is also
    individually oracle-checked (text_quality, dedup_exact, text_features);
    this pins that they COMPOSE correctly: the dedup runs on the filtered
    set, the accounting on the survivors."""
    from scio_spark.functions import dedup as D
    from scio_spark.functions import text as T

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df
    q = T.with_quality_score(d, "text").filter(F.col("quality") >= 0.5)
    surv = D.exact_dedup(q, id_col="doc_id", text_col="text")
    return surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("sum_tokens"),
        F.sum(F.col("quality").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_quality"),
    )


ORACLE_CURATION_E2E = r"""
WITH f AS (
  SELECT doc_id, source, text,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
      AS n,
    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        t -> list_contains(['the','a','of','and','to','in','is','it'], lower(t)))) AS sw,
    len(regexp_replace(trim(text), '\s+', '', 'g')) AS chars_nospace,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / len(text) END AS pr
  FROM documents
), scored AS (
  SELECT doc_id, source, text, n,
    least(n / 200.0, 1.0) * 0.25
    + least((CASE WHEN n = 0 THEN 0.0 ELSE sw / n END) / 0.4, 1.0) * 0.35
    + (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE chars_nospace / n END) >= 3.0
             AND (CASE WHEN n = 0 THEN 0.0 ELSE chars_nospace / n END) <= 10.0
        THEN 1.0 ELSE 0.4 END) * 0.25
    + (1.0 - least(pr * 4.0, 1.0)) * 0.15 AS quality
  FROM f
), q AS (
  SELECT * FROM scored WHERE quality >= 0.5
), keepers AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
         MIN(doc_id) AS doc_id
  FROM q GROUP BY 1
), surv AS (
  SELECT q.* FROM q
  JOIN keepers k
    ON k.doc_id = q.doc_id
   AND k.h = md5(regexp_replace(lower(trim(q.text)), '\s+', ' ', 'g'))
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
FROM surv GROUP BY source
"""


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level dedup (functions/dedup.dedup_lines):
    sentence-units occurring in >5 distinct documents are cross-document
    boilerplate and get dropped; survivors reassemble in original order.
    The boilerplate set is broadcast anti-joined — the exploded corpus
    never shuffles on line content."""
    from scio_spark.functions.dedup import dedup_lines

    sc = _ctx(spark)
    d = _t(sc, sf_dir, "documents").df
    return dedup_lines(d, max_doc_freq=5)


ORACLE_DEDUP_LINES = """
WITH ls AS (
  SELECT doc_id, string_split(text, '. ') AS l FROM documents
), lines AS (
  SELECT doc_id, CAST(i AS INT) AS pos, l[CAST(i AS INT) + 1] AS line
  FROM ls, UNNEST(range(len(l))) AS u(i)
), boiler AS (
  SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) > 5
), kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)
), agg AS (
  SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS text_clean,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       COALESCE(a.n_kept, 0) AS n_kept,
       len(string_split(d.text, '. ')) - COALESCE(a.n_kept, 0) AS n_removed
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy (functions/text.py unigram_logprob —
    CCNet-style quality signal, Wenzek et al. 2020): train token
    probabilities over the corpus (one shuffle, vocabulary-sized output,
    broadcast back), score every document's bits-per-token. Per-token
    −log2 p is quantized to DECIMAL(28,6) pre-sum so the value is
    partition-order independent and engine-exact."""
    from scio_spark.functions.text import unigram_logprob

    sc = _ctx(spark)
    return unigram_logprob(_t(sc, sf_dir, "documents").df)


ORACLE_LM_SCORE = """
WITH tok AS (SELECT doc_id, u.token
             FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t,
                  UNNEST(w) u(token)),
counts AS (SELECT token, COUNT(*) cnt FROM tok GROUP BY 1),
total AS (SELECT SUM(cnt) t FROM counts),
model AS (SELECT token, cnt / t AS p FROM counts, total)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(CAST(SUM(CAST(-log2(p) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
            AS DOUBLE) AS bits_per_token
FROM tok JOIN model USING (token)
GROUP BY doc_id
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 characteristic terms per document (functions/text.py
    tfidf_topk): tf·ln(N/df) quantized to DECIMAL(28,6) BEFORE ranking so
    the (score DESC, token ASC) order is total and engine-independent."""
    from scio_spark.functions.text import tfidf_topk

    sc = _ctx(spark)
    return tfidf_topk(_t(sc, sf_dir, "documents").df, k=3)


ORACLE_TFIDF_KEYWORDS = """
WITH tok AS (SELECT doc_id, u.token
             FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) t,
                  UNNEST(w) u(token)),
tf AS (SELECT doc_id, token, COUNT(*) tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) df_t FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) n FROM documents),
scored AS (SELECT doc_id, token, CAST(tf * ln(n / df_t) AS DECIMAL(28,6)) sq
           FROM tf JOIN dfreq USING (token), nd),
ranked AS (SELECT doc_id, token, sq,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY sq DESC, token ASC) rank
           FROM scored)
SELECT doc_id, token, CAST(sq AS DOUBLE) AS score, rank
FROM ranked WHERE rank <= 3
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate contamination matrix (functions/dedup.py
    cross_source_overlap): distinct (token-sort-fingerprint, source) pairs,
    self-joined on the fingerprint — how many shared documents every
    unordered source pair has before mixing."""
    from scio_spark.functions.dedup import cross_source_overlap

    sc = _ctx(spark)
    return cross_source_overlap(_t(sc, sf_dir, "documents").df)


ORACLE_SOURCE_OVERLAP = """
WITH hs AS (
  SELECT DISTINCT
    md5(list_aggregate(list_sort(list_distinct(
          string_split(trim(lower(text)), ' '))), 'string_agg', ' ')) AS h,
    source
  FROM documents)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM hs a JOIN hs b USING (h)
WHERE a.source < b.source
GROUP BY 1, 2
"""


def q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AutoComplete parity (scio-examples/.../complete/AutoComplete.scala →
    functions/text.py autocomplete_topk): corpus term counts → bounded
    prefix explode (1..4 chars) → top-3 terms per prefix by (count DESC,
    term ASC). Prefix fan-out scales with vocabulary, not corpus."""
    from scio_spark.functions.text import autocomplete_topk

    sc = _ctx(spark)
    docs = _t(sc, sf_dir, "documents").df
    return autocomplete_topk(docs, "text", k=3, min_prefix=1, max_prefix=4)


ORACLE_AUTOCOMPLETE = """
WITH terms AS (
  SELECT u.term, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                          x -> x <> '')) u(term)
  GROUP BY 1),
pref AS (
  SELECT term, n, substring(term, 1, p.len) AS prefix
  FROM terms,
       UNNEST(range(1, LEAST(length(term), 4) + 1)) p(len)),
ranked AS (
  SELECT prefix, term, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY prefix
                                 ORDER BY n DESC, term ASC) AS INT) AS rank
  FROM pref)
SELECT prefix, term, n, rank FROM ranked WHERE rank <= 3
"""


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb-style quality filter funnel: the per-rule rejection
    report a curation run publishes before dropping documents —
    functions/checks.py run_checks composed over functions/text.py signals
    (token bounds, mean word length 3-10, punctuation ratio, ≥2
    stopwords), ALL in one aggregate pass. Ratio thresholds are single
    divisions of the same integers in both engines, so the boundary
    comparisons replay exactly."""
    from scio_spark.fanout import fan_out_scan
    from scio_spark.functions.checks import run_checks
    from scio_spark.functions.text import punct_ratio, token_count

    sc = _ctx(spark)
    # r15-opt: fan the narrow scan to width for the per-rule signal
    # expressions (0.63-0.77 -> 0.52-0.58 s warm at sf0.1).
    docs = fan_out_scan(_t(sc, sf_dir, "documents").df)
    d = (
        docs.withColumn("__tok", token_count("text"))
        .withColumn(
            "__chars", F.length(F.regexp_replace(F.trim("text"), r"\s+", ""))
        )
        .withColumn("__pr", punct_ratio("text"))
        .withColumn(
            "__sw",
            F.size(
                F.filter(
                    F.split(F.trim("text"), r"\s+"),
                    lambda t: F.lower(t).isin(
                        "the", "a", "of", "and", "to", "in", "is", "it"
                    ),
                )
            ),
        )
    )
    wl = F.col("__chars") / F.col("__tok")
    return run_checks(
        d,
        row_rules={
            "min_tokens": F.col("__tok") >= 20,
            "max_tokens": F.col("__tok") <= 2000,
            "word_length": (wl >= 3.0) & (wl <= 10.0),
            "punct": F.col("__pr") <= 0.2,
            "stopwords": F.col("__sw") >= 2,
        },
    )


ORACLE_QUALITY_FUNNEL = """
WITH f AS (
  SELECT
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
      AS tok,
    len(regexp_replace(trim(text), '\\s+', '', 'g')) AS chars_nospace,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) / len(text)
    END AS pr,
    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        t -> list_contains(['the','a','of','and','to','in','is','it'],
                           lower(t)))) AS sw
  FROM documents),
r AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN COALESCE(tok >= 20, FALSE) THEN 0 ELSE 1 END)
         AS BIGINT) AS v_min,
    CAST(SUM(CASE WHEN COALESCE(tok <= 2000, FALSE) THEN 0 ELSE 1 END)
         AS BIGINT) AS v_max,
    CAST(SUM(CASE WHEN COALESCE(
                 CASE WHEN tok = 0 THEN NULL
                      ELSE chars_nospace / tok END >= 3.0
                 AND CASE WHEN tok = 0 THEN NULL
                          ELSE chars_nospace / tok END <= 10.0, FALSE)
             THEN 0 ELSE 1 END) AS BIGINT) AS v_wl,
    CAST(SUM(CASE WHEN COALESCE(pr <= 2e-1, FALSE) THEN 0 ELSE 1 END)
         AS BIGINT) AS v_pr,
    CAST(SUM(CASE WHEN COALESCE(sw >= 2, FALSE) THEN 0 ELSE 1 END)
         AS BIGINT) AS v_sw
  FROM f)
SELECT 'min_tokens' AS check, 'row_rule' AS kind, v_min AS n_violations,
       n AS n_rows, v_min = 0 AS passed FROM r
UNION ALL SELECT 'max_tokens', 'row_rule', v_max, n, v_max = 0 FROM r
UNION ALL SELECT 'word_length', 'row_rule', v_wl, n, v_wl = 0 FROM r
UNION ALL SELECT 'punct', 'row_rule', v_pr, n, v_pr = 0 FROM r
UNION ALL SELECT 'stopwords', 'row_rule', v_sw, n, v_sw = 0 FROM r
"""
