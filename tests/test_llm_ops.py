"""LLM-data-pipeline operators: text analysis, dedup families, similarity.

Fixture style mirrors the reference's PipelineSpec (small in-memory data,
order-insensitive asserts); near-dup tests use planted duplicates so expected
pairs are known a priori.
"""

import pytest
from pyspark.sql import functions as F

from scio_spark.functions import dedup as D
from scio_spark.functions import similarity as S
from scio_spark.functions import text as T
from tests.conftest import rows


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "completely different content about spark engines and data planes"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
        (4, "short text"),
    ]
    return spark.createDataFrame(data, ["doc_id", "text"])


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",)], ["text"])
    got = [r[0] for r in df.select(T.token_count("text")).collect()]
    assert got == [3, 0, 0]


def test_quality_score_bounds(docs):
    vals = [r[0] for r in docs.select(T.quality_score("text")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in a house"),
            (2, "der hund und die katze ist nicht da"),
            (3, "le chat et la maison des amis"),
            (4, "el perro y los gatos que corren"),
            (5, "这是 中文 文本"),
            (6, "xxxx yyyy zzzz"),
        ],
        ["id", "text"],
    )
    got = dict(rows(df.select("id", T.lang_id("text"))))
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh", 6: "und"}


def test_fingerprint_word_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma ALPHA beta"), (3, "alpha beta delta")],
        ["id", "text"],
    )
    fps = dict(rows(df.select("id", T.fingerprint("text"))))
    assert fps[1] == fps[2] and fps[1] != fps[3]


def test_exact_dedup(docs):
    groups = D.exact_dedup_groups(docs)
    dup = [r for r in groups.collect() if r["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["keep_id"] == 0 and dup[0]["n_docs"] == 2
    kept = D.exact_dedup(docs)
    assert kept.count() == 4  # doc 3 removed
    assert 3 not in [r["doc_id"] for r in kept.collect()]


def test_ngram_jaccard_pairs(docs):
    pairs = rows(D.ngram_jaccard_dedup(docs, min_jaccard=0.5).df if hasattr(
        D.ngram_jaccard_dedup(docs, min_jaccard=0.5), "df")
        else D.ngram_jaccard_dedup(docs, min_jaccard=0.5), "id_1", "id_2")
    assert (0, 3) in pairs  # exact dup: jaccard 1.0
    assert (0, 1) in pairs  # near dup
    assert all(p != (0, 2) for p in pairs)


def test_minhash_lsh_finds_exact_dups(docs):
    got = rows(D.minhash_lsh_dedup(docs, min_jaccard=0.99), "id_1", "id_2")
    assert (0, 3) in got  # identical docs always collide in every band


def test_simhash_exact_dup_distance_zero(docs):
    got = {(r["id_1"], r["id_2"]): r["hamming"] for r in D.simhash_dedup(docs, max_hamming=3).collect()}
    assert got.get((0, 3)) == 0


def test_simhash_banding_equals_bruteforce(spark):
    import itertools

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i%3} common words here and there") for i in range(20)],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash16(df).collect()}
    brute = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    banded = rows(D.simhash_dedup(df, max_hamming=3), "id_1", "id_2")
    assert brute == sorted(banded)


@pytest.fixture(scope="module")
def embeddings(spark):
    import math
    import random

    random.seed(7)
    data = []
    for i in range(60):
        v = [random.gauss(0, 1) for _ in range(16)]
        n = math.sqrt(sum(x * x for x in v))
        data.append((i, [x / n for x in v]))
    # plant a near-identical neighbor of vec 0
    base = data[0][1]
    data.append((60, [x for x in base]))
    return spark.createDataFrame(data, ["vec_id", "embedding"])


def test_cosine_topk_exact(embeddings):
    out = S.cosine_topk(embeddings, embeddings.filter("vec_id = 0"), k=1)
    r = out.collect()[0]
    assert r["neighbor_id"] == 60 and abs(r["score"] - 1.0) < 1e-4


def test_cosine_topk_lsh_recall(embeddings):
    qs = embeddings.filter("vec_id < 10")
    brute = set(
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(embeddings, qs, k=1).collect()
    )
    approx = set(
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_lsh(embeddings, qs, k=1, bits=2, dim=16).collect()
    )
    # recall@1 with 2-bit buckets on 60 vecs should be substantial
    assert len(brute & approx) >= len(brute) * 0.5


def test_embedding_dedup_exact_blocked(embeddings):
    """Block-pair GEMM must equal driver-side brute force (each unordered
    pair counted exactly once, including within diagonal blocks)."""
    import itertools

    vecs = {r["vec_id"]: r["embedding"] for r in embeddings.collect()}
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(vecs), 2)
        if sum(x * y for x, y in zip(vecs[a], vecs[b])) >= 0.8
    }
    got = rows(
        S.embedding_dedup_pairs(embeddings, threshold=0.8, num_blocks=4),
        "id_1", "id_2",
    )
    assert sorted(got) == sorted(brute)
    assert len(got) == len(set(got))  # no duplicate emissions


def test_embedding_dedup_lsh_recall(embeddings):
    """LSH-banded candidates + exact rescore: precision is exact by
    construction; recall vs the exact operator is pinned here."""
    exact = set(
        rows(S.embedding_dedup_pairs(embeddings, threshold=0.8, num_blocks=4),
             "id_1", "id_2")
    )
    approx = set(
        rows(
            S.embedding_dedup_pairs_lsh(
                embeddings, threshold=0.8, bands=16, band_bits=2, dim=16
            ),
            "id_1", "id_2",
        )
    )
    assert approx <= exact  # exact rescore ⇒ no false positives
    assert len(approx) >= max(1, int(len(exact) * 0.8))  # high recall


def test_embedding_dedup_margin_covers_round_half_up(spark):
    """sf1 regression (r14): a pair whose true cosine sits just UNDER the
    threshold but ROUNDS to it (0.399996 → 0.40000 at 5 decimals) must
    survive GEMM candidate generation — the old 1e-6 margin dropped it
    while the fold-rescore+round oracle kept it (15 of 96k pairs at sf1)."""
    import math

    c = 0.399996  # rounds to 0.4 at 5 decimals
    s = math.sqrt(1 - c * c)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [c, s])], ["vec_id", "embedding"]
    )
    got = S.embedding_dedup_pairs(df, threshold=0.4, num_blocks=2).collect()
    assert [(r.id_1, r.id_2, r.score) for r in got] == [(1, 2, 0.4)]


def test_embedding_dedup_lsh_margin_covers_round_half_up(spark):
    """The LSH path's bucket-GEMM candidate cut must honor the same
    round-half-up margin as the exact path: a colliding pair whose true
    cosine rounds UP to the threshold survives the per-bucket cut."""
    import math

    c = 0.399996  # rounds to 0.4 at 5 decimals
    s = math.sqrt(1 - c * c)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [c, s])], ["vec_id", "embedding"]
    )
    # 1-bit bands: collision probability per band is 1 - θ/π ≈ 0.63, so 32
    # deterministic md5 bands make at least one collision certain here.
    got = S.embedding_dedup_pairs_lsh(
        df, threshold=0.4, bands=32, band_bits=1, dim=2
    ).collect()
    assert [(r.id_1, r.id_2, r.score) for r in got] == [(1, 2, 0.4)]


def test_bucket_gemm_hot_bucket_guard(spark):
    """A collision bucket past max_bucket_rows fails actionably (the
    semdedup guard discipline) instead of materializing an unbounded GEMM
    slab in one task — identical vectors all but guarantee a hot bucket."""
    import pytest

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(8)], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="max_bucket_rows"):
        S.embedding_dedup_pairs_lsh(
            df, threshold=0.4, bands=4, band_bits=1, dim=2, max_bucket_rows=4
        ).collect()


def test_incremental_embedding_dedup_equals_full_rebuild(embeddings):
    """Staged-index incremental path (vector analog of incremental_dedup):
    banding is per-row, so candidates for a new batch against the staged
    corpus index + rescore must EQUAL the one-shot LSH operator's pairs
    restricted to ≥1 new side — the corpus is never re-signed."""
    from scio_spark.functions import similarity as S

    new = embeddings.filter("vec_id % 5 = 0")
    corpus = embeddings.filter("vec_id % 5 != 0")
    kw = dict(bands=16, band_bits=2, dim=16)
    idx = S.stage_embedding_lsh_index(corpus, "emb_lsh_idx_test", **kw)
    inc = S.incremental_embedding_dedup(
        new, idx, embeddings, threshold=0.8, **kw
    )
    full = S.embedding_dedup_pairs_lsh(embeddings, threshold=0.8, **kw)
    want = sorted(
        (r.id_1, r.id_2, r.score)
        for r in full.collect()
        if r.id_1 % 5 == 0 or r.id_2 % 5 == 0
    )
    got = sorted((r.id_1, r.id_2, r.score) for r in inc.collect())
    assert got == want and got  # equal AND non-trivial


def test_shingle_frequency_cap_agreement(docs):
    """Capped vs uncapped agree when the cap is above the fixture's max DF,
    and an aggressive cap still finds the planted dup pairs (their shared
    shingles are rare) with UNCHANGED jaccard values."""
    uncapped = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_dedup(docs, min_jaccard=0.5).collect()
    }
    loose = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_dedup(
            docs, min_jaccard=0.5, max_doc_freq=10_000
        ).collect()
    }
    assert loose == uncapped
    tight = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in D.ngram_jaccard_dedup(
            docs, min_jaccard=0.5, max_doc_freq=3
        ).collect()
    }
    assert set(tight) <= set(uncapped)
    for pair, j in tight.items():
        assert j == uncapped[pair]  # verify stage uses full shingle sets
    assert (0, 3) in tight and (0, 1) in tight  # planted dups survive


def test_minhash_lsh_cap_agreement(docs):
    base = rows(D.minhash_lsh_dedup(docs, min_jaccard=0.99), "id_1", "id_2")
    capped = rows(
        D.minhash_lsh_dedup(docs, min_jaccard=0.99, max_doc_freq=10_000),
        "id_1", "id_2",
    )
    assert sorted(capped) == sorted(base)
    assert (0, 3) in rows(
        D.minhash_lsh_dedup(docs, min_jaccard=0.99, max_doc_freq=3),
        "id_1", "id_2",
    )


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation closes a multi-hop chain (diameter > 1 needs
    >1 iteration), keeps disjoint groups apart, and dedup_clusters labels
    singletons as their own component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_1", "id_2"],
    )
    comps = {
        r["node"]: r["comp"] for r in D.connected_components(pairs).collect()
    }
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20,
    }
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 22, 99]],
        ["doc_id", "text"],
    )
    labeled = {
        r["doc_id"]: r["comp"]
        for r in D.dedup_clusters(docs, pairs).collect()
    }
    assert labeled[99] == 99  # singleton = own component
    assert labeled[4] == 1 and labeled[22] == 20
    canonical = sorted(k for k, v in labeled.items() if k == v)
    assert canonical == [1, 10, 20, 99]


def test_hash_split_stable_and_proportional(spark):
    """hash_split is a pure function of (seed, id): identical across
    repartitionings/re-runs, ~proportional to the requested fractions, and
    a late-arriving row never flips an existing row's split."""
    from scio_spark.functions.training import hash_split

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(ids, splits, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids.repartition(7), splits, "doc_id").collect()
    }
    assert a == b  # partitioning-independent
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.75 < n_train / 2000 < 0.85
    # incremental arrival: subset assignment unchanged
    sub = ids.filter("doc_id < 500")
    c = {r["doc_id"]: r["split"] for r in hash_split(sub, splits, "doc_id").collect()}
    assert all(a[k] == v for k, v in c.items())
    with pytest.raises(ValueError):
        hash_split(ids, {"train": 0.5, "val": 0.1}, "doc_id")


def test_training_shuffle_and_shards(spark, tmp_path):
    """training_shuffle: same seed = same permutation, different seed =
    different; write_training_shards: deterministic membership, all rows
    present, within-shard order reproducible."""
    from scio_spark.functions.training import (
        training_shuffle, write_training_shards,
    )

    ids = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    p1 = [r["doc_id"] for r in training_shuffle(ids, "doc_id", seed=1).collect()]
    p1b = [r["doc_id"] for r in training_shuffle(ids, "doc_id", seed=1).collect()]
    p2 = [r["doc_id"] for r in training_shuffle(ids, "doc_id", seed=2).collect()]
    assert p1 == p1b and p1 != p2 and sorted(p1) == list(range(300))

    path = str(tmp_path / "shards")
    write_training_shards(ids, path, n_shards=4, id_col="doc_id", seed=7)
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert back.select("shard").distinct().count() == 4
    by_shard1 = {
        r["doc_id"]: r["shard"] for r in back.collect()
    }
    write_training_shards(ids, path, n_shards=4, id_col="doc_id", seed=7)
    by_shard2 = {
        r["doc_id"]: r["shard"]
        for r in spark.read.parquet(path).collect()
    }
    assert by_shard1 == by_shard2  # byte-stable membership


def test_ngram_contamination_flags_planted_leak(spark):
    """A training doc containing an eval doc's text verbatim is flagged
    with the right distinct-overlap count; disjoint docs are not."""
    from scio_spark.functions.dedup import ngram_contamination

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    tr = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps suffix"),  # leaked
            (2, "completely different content here entirely"),     # clean
            (3, "quick brown fox elsewhere"),                      # partial
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_overlapping"]
        for r in ngram_contamination(tr, ev).collect()
    }
    # eval shingles: {the quick brown, quick brown fox, brown fox jumps}
    assert got[1] == 3
    assert got[3] == 1  # shares "quick brown fox"
    assert 2 not in got
    strict = {
        r["doc_id"]
        for r in ngram_contamination(tr, ev, min_overlap=2).collect()
    }
    assert strict == {1}


def test_staged_shingles_reused_by_dedup(spark, docs):
    """stage_shingles writes a bucketed shingle table; both dedup entry
    points produce identical pairs when fed the staged table."""
    staged = D.stage_shingles(docs, "t_staged_shingles", buckets=4)
    base = rows(D.ngram_jaccard_dedup(docs, min_jaccard=0.8), "id_1", "id_2")
    via_staged = rows(
        D.ngram_jaccard_dedup(docs, min_jaccard=0.8, shingles_df=staged),
        "id_1", "id_2",
    )
    assert via_staged == base
    mh = rows(D.minhash_lsh_dedup(docs, min_jaccard=0.8), "id_1", "id_2")
    mh_staged = rows(
        D.minhash_lsh_dedup(docs, min_jaccard=0.8, shingles_df=staged),
        "id_1", "id_2",
    )
    assert mh_staged == mh
    spark.sql("DROP TABLE IF EXISTS t_staged_shingles")


def test_incremental_lsh_candidates_match_full_rebuild(spark, docs):
    """Incremental dedup: candidates of (new batch vs staged index) +
    (new vs new) must equal the full-corpus LSH candidate pairs restricted
    to pairs touching a new doc — O(batch) work, same answer."""
    hist = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    D.stage_minhash_index(hist, "t_mh_index", buckets=4)
    try:
        inc = {
            (r["id_1"], r["id_2"])
            for r in D.incremental_lsh_candidates(
                new, spark.table("t_mh_index")
            ).collect()
        }
        sh = D.shingles(docs)
        full = {
            (r["id_1"], r["id_2"])
            for r in D.lsh_candidate_pairs(D.minhash_signature(sh)).collect()
        }
        new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
        expected = {
            p for p in full if p[0] in new_ids or p[1] in new_ids
        }
        assert inc == expected
        assert inc  # fixture has planted near-dups crossing the split
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mh_index")


def test_pack_sequences_greedy_budget(spark):
    """Greedy packing: every doc appears exactly once, packs respect the
    budget except single-overweight docs, and boundaries are greedy (a
    cumsum bucketing would merge [4,5] under budget 8 — greedy must not)."""
    from scio_spark.functions.training import pack_sequences

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # 4 tokens
            (2, "e f g h i"),      # 5
            (3, "j k l m n"),      # 5
            (4, " ".join(f"t{i}" for i in range(12))),  # 12 > budget
            (5, "x y"),            # 2
        ],
        ["doc_id", "text"],
    ).coalesce(1)  # one partition → deterministic greedy sequence
    packs = pack_sequences(docs, token_budget=8).collect()
    # exact greedy trace for budget 8 over [4,5,5,12,2]:
    # [1] closes when 2 arrives (4+5>8); [2] closes (5+5>8); [3] closes
    # (5+12>8); [4] overweight alone (12>8); [5] tail pack.
    assert [list(p["doc_ids"]) for p in packs] == [[1], [2], [3], [4], [5]]
    assert [p["total_tokens"] for p in packs] == [4, 5, 5, 12, 2]
    small = spark.createDataFrame(
        [(i, "w1 w2 w3") for i in range(6)], ["doc_id", "text"]
    ).coalesce(1)
    packed = pack_sequences(small, token_budget=9).collect()
    assert [p["n_docs"] for p in packed] == [3, 3]  # 3 docs × 3 tokens per pack
    all_ids = sorted(i for p in packed for i in p["doc_ids"])
    assert all_ids == list(range(6))
    assert all(p["text"].count("\n\n") == p["n_docs"] - 1 for p in packed)


def test_repetition_signals_values(spark):
    """Hand-computed repetition metrics: a fully-repetitive doc scores
    dup_bigram_fraction near 1 and top_word_fraction 1; an all-distinct doc
    scores 0 duplication."""
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),     # 4 tokens, 1 distinct
            (2, "all words here differ"),   # all distinct
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in T.repetition_signals(df).collect()}
    r1 = got[1]
    assert r1["n_tokens"] == 4
    assert r1["distinct_word_ratio"] == 0.25
    assert r1["top_word_fraction"] == 1.0
    assert abs(r1["dup_bigram_fraction"] - (1 - 1 / 3)) < 1e-12
    r2 = got[2]
    assert r2["distinct_word_ratio"] == 1.0
    assert r2["top_word_fraction"] == 0.25
    assert r2["dup_bigram_fraction"] == 0.0


def test_corpus_stats_exact_and_approx_vocab(docs):
    """Exact profile values on the known fixture; HLL vocab lands within
    the documented ~2% error of exact."""
    exact = T.corpus_stats(docs).collect()[0]
    assert exact["total_docs"] == 5
    lens = [13, 13, 9, 13, 2]
    assert exact["total_tokens"] == sum(lens)
    assert exact["p50_tokens"] == 13.0
    approx = T.corpus_stats(docs, exact_vocab=False).collect()[0]
    assert abs(approx["vocab_size"] - exact["vocab_size"]) <= max(
        2, 0.05 * exact["vocab_size"]
    )


def test_mixture_sample_deterministic_and_isolated(spark):
    """Mixture retention is a pure function of (seed, source, id): stable
    across runs, ~proportional to fractions, and refreshing one source
    leaves every other source's kept-set untouched."""
    from scio_spark.functions.training import mixture_sample

    a = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    b = spark.range(1000, 2000).withColumnRenamed("id", "doc_id")
    mix = {"a": (a, 1.0), "b": (b, 0.3)}
    kept1 = {
        (r["source"], r["doc_id"]) for r in mixture_sample(mix).collect()
    }
    kept2 = {
        (r["source"], r["doc_id"]) for r in mixture_sample(mix).collect()
    }
    assert kept1 == kept2
    n_a = sum(1 for s, _ in kept1 if s == "a")
    n_b = sum(1 for s, _ in kept1 if s == "b")
    assert n_a == 1000  # fraction 1.0 keeps everything
    assert 220 < n_b < 380
    # source isolation: shrinking b never changes a's kept-set
    mix2 = {"a": (a, 1.0), "b": (b.filter("doc_id < 1500"), 0.3)}
    kept3 = {
        (r["source"], r["doc_id"]) for r in mixture_sample(mix2).collect()
    }
    assert {x for x in kept1 if x[0] == "a"} == {x for x in kept3 if x[0] == "a"}
    assert {x for x in kept3 if x[0] == "b"} <= {x for x in kept1 if x[0] == "b"}
    with pytest.raises(ValueError):
        mixture_sample({"a": (a, 1.5)})


def test_connected_components_nonconvergence_raises(spark):
    """A chain deeper than max_iter must fail loudly, never return
    partially-merged labels."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_1", "id_2"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iter=2)
    ok = {r["node"]: r["comp"] for r in D.connected_components(chain).collect()}
    assert set(ok.values()) == {0}


def test_pack_sequences_string_ids(spark):
    """doc_ids element type follows id_col (string ids → array<string>);
    the old hardcoded array<long> + int() cast crashed on non-integer ids."""
    from scio_spark.functions.training import pack_sequences

    docs = spark.createDataFrame(
        [("doc-a", "a b c"), ("doc-b", "d e"), ("doc-c", "f g h i")],
        ["doc_id", "text"],
    ).coalesce(1)
    packs = pack_sequences(docs, token_budget=5).collect()
    assert dict(
        pack_sequences(docs, token_budget=5).dtypes
    )["doc_ids"] == "array<string>"
    all_ids = sorted(i for p in packs for i in p["doc_ids"])
    assert all_ids == ["doc-a", "doc-b", "doc-c"]


def test_mixture_sample_empty_sources_raises(spark):
    from scio_spark.functions.training import mixture_sample

    with pytest.raises(ValueError, match="non-empty"):
        mixture_sample({})


def test_connected_components_reliable_checkpoint_path(spark, tmp_path):
    """checkpoint_dir switches lineage truncation from localCheckpoint to
    reliable DataFrame.checkpoint on shared storage (the cluster setting):
    identical labels, and the checkpoint dir actually receives RDD state."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_1", "id_2"]
    )
    local = {r["node"]: r["comp"] for r in D.connected_components(pairs).collect()}
    ckdir = str(tmp_path / "cc_ck")
    reliable = {
        r["node"]: r["comp"]
        for r in D.connected_components(pairs, checkpoint_dir=ckdir).collect()
    }
    assert reliable == local == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    walked = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert walked  # reliable checkpoints materialized under checkpoint_dir
    # every round stages through stage_bounded: one checkpoint subdir in all
    assert len(os.listdir(ckdir)) == 1


def test_cosine_topk_hnsw_parity(embeddings):
    """Voyager/HNSW side-input path (pure-numpy graph, no import gate):
    top-1 neighbors at a generous ef must agree with exact cosine_topk on
    the fixture; the exhaustive + exact_rescore regime must agree on the
    full (score, rank) contract including tie-breaks."""
    qs = embeddings.limit(4)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in S.cosine_topk_hnsw(
            embeddings, qs, k=1, ef_search=200
        ).collect()
    }
    exact = {
        r["query_id"]: r["neighbor_id"]
        for r in S.cosine_topk(embeddings, qs, k=1).collect()
    }
    assert got == exact
    full = sorted(
        tuple(r)
        for r in S.cosine_topk_hnsw(
            embeddings, qs, k=3, ef_search=None, exact_rescore=True
        ).collect()
    )
    ref = sorted(tuple(r) for r in S.cosine_topk(embeddings, qs, k=3).collect())
    assert full == ref


def test_scrub_pii_masks_all_categories(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@my-site.org now"),
            (2, "call 555-123-4567 or ssn 123-45-6789"),
            (3, "host 192.168.0.1 ok"),
            (4, "clean text 1234"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["s"] for r in df.select("id", T.scrub_pii("text").alias("s")).collect()}
    assert got == {
        1: "mail <EMAIL> now",
        2: "call <PHONE> or ssn <SSN>",
        3: "host <IP> ok",
        4: "clean text 1234",
    }
    counts = df.select("id", *T.pii_counts("text")).collect()
    by_id = {r["id"]: (r["n_email"], r["n_ssn"], r["n_phone"], r["n_ipv4"]) for r in counts}
    assert by_id == {1: (1, 0, 0, 0), 2: (0, 1, 1, 0), 3: (0, 0, 0, 1), 4: (0, 0, 0, 0)}


def test_chunk_text_windows_and_edges(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "only three tokens"),
            (3, "   "),  # blank: no chunks
        ],
        ["doc_id", "text"],
    )
    out = T.chunk_text(df, chunk_tokens=4, overlap=2).collect()
    assert not any(r["doc_id"] == 3 for r in out)
    one = sorted(
        ((r["chunk_id"], r["n_tokens"], r["chunk"]) for r in out if r["doc_id"] == 1)
    )
    # starts 0,2,4,6,8 → windows of 4 (last is short)
    assert [c[0] for c in one] == [0, 1, 2, 3, 4]
    assert [c[1] for c in one] == [4, 4, 4, 4, 2]
    assert one[0][2] == "w0 w1 w2 w3" and one[1][2] == "w2 w3 w4 w5"
    assert one[4][2] == "w8 w9"
    # every token of every doc appears in at least one chunk
    covered = set()
    for r in out:
        if r["doc_id"] == 1:
            covered.update(r["chunk"].split())
    assert covered == {f"w{i}" for i in range(10)}
    with pytest.raises(ValueError, match="overlap"):
        T.chunk_text(df, chunk_tokens=4, overlap=4)


def test_dedup_lines_removes_boilerplate_preserves_order(spark):
    """CCNet-style line dedup: the cookie banner (in every doc) goes; each
    doc's unique sentences survive in original order; an all-boilerplate
    doc collapses to the empty string with everything counted removed."""
    banner = "accept all cookies"
    data = [
        (1, f"{banner}. alpha one. beta two"),
        (2, f"gamma three. {banner}. delta four"),
        (3, f"{banner}"),
        (4, f"epsilon five. {banner}. zeta six"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["text_clean"], r["n_kept"], r["n_removed"])
        for r in D.dedup_lines(df, max_doc_freq=2).collect()
    }
    assert out[1] == ("alpha one. beta two", 2, 1)
    assert out[2] == ("gamma three. delta four", 2, 1)
    assert out[3] == ("", 0, 1)
    assert out[4] == ("epsilon five. zeta six", 2, 1)


def test_unigram_logprob_hand_computed(spark):
    """3-doc fixture with a hand-computable unigram model: 6 token
    occurrences, p(a)=3/6, p(b)=2/6, p(c)=1/6; doc scores are exact
    averages of -log2 p."""
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in T.unigram_logprob(df).collect()}
    la, lb, lc = (-math.log2(3 / 6), -math.log2(2 / 6), -math.log2(1 / 6))
    q = lambda x: round(x, 6)  # the op quantizes per-token at 1e-6
    assert out[1]["n_tokens"] == 3
    assert out[1]["bits_per_token"] == pytest.approx(
        (2 * q(la) + q(lb)) / 3, abs=1e-9
    )
    assert out[2]["bits_per_token"] == pytest.approx((q(la) + q(lb)) / 2, abs=1e-9)
    assert out[3]["bits_per_token"] == pytest.approx(q(lc), abs=1e-9)
    # rare-token doc scores strictly higher than common-token doc
    assert out[3]["bits_per_token"] > out[1]["bits_per_token"]


def test_unigram_logprob_pretrained_model_drops_oov(spark):
    """Scoring a new batch against a pre-trained model: OOV tokens are
    excluded from the average (inner-join semantics)."""
    corpus = spark.createDataFrame([(1, "a a b")], ["doc_id", "text"])
    model = T.unigram_model(corpus)
    new = spark.createDataFrame([(9, "a zzz")], ["doc_id", "text"])
    out = T.unigram_logprob(new, model=model).collect()
    assert len(out) == 1 and out[0]["n_tokens"] == 1  # zzz dropped


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """The term unique to a doc outranks corpus-wide terms; ranks are
    contiguous and capped at k; ties break on token asc."""
    df = spark.createDataFrame(
        [
            (1, "shared shared unique1"),
            (2, "shared shared unique2"),
            (3, "shared other other"),
        ],
        ["doc_id", "text"],
    )
    out = T.tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"], r["score"]))
    assert [t for _, t, _ in sorted(by_doc[1])][0] == "unique1"
    assert [t for _, t, _ in sorted(by_doc[2])][0] == "unique2"
    assert [t for _, t, _ in sorted(by_doc[3])][0] == "other"
    for d, items in by_doc.items():
        assert [r for r, _, _ in sorted(items)] == list(range(1, len(items) + 1))
        assert len(items) <= 2
    # 'shared' appears in all 3 docs -> idf = ln(1) = 0 -> score 0, ranked last
    d1 = {t: s for _, t, s in by_doc[1]}
    assert d1.get("shared", 0.0) == 0.0


def test_cross_source_overlap_counts_fingerprint_dups(spark):
    """Docs sharing a token-sort fingerprint across sources count once per
    distinct fingerprint; same-source dups and unique docs don't appear."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "A"),
            (2, "gamma beta alpha", "B"),   # same fingerprint as 1
            (3, "alpha beta gamma", "A"),   # same-source dup: no pair
            (4, "delta epsilon", "B"),
            (5, "epsilon delta", "C"),      # same fingerprint as 4
            (6, "zeta eta", "A"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in D.cross_source_overlap(df).collect()
    }
    assert out == {("A", "B"): 1, ("B", "C"): 1}


def test_bigram_model_hand_computed(spark):
    """'a b a b': pairs (a,b),(b,a),(a,b) → p(b|a)=1.0 (2/2), p(a|b)=1.0
    (1/1); left counts a=2, b=1."""
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    m = {(r.w1, r.w2): r for r in T.bigram_model(df).collect()}
    assert m[("a", "b")].cnt12 == 2 and m[("a", "b")].cnt1 == 2
    assert m[("a", "b")].p_bi == 1.0
    assert m[("b", "a")].cnt12 == 1 and m[("b", "a")].p_bi == 1.0


def test_bigram_logprob_hand_computed(spark):
    """Every pair scores p = 0.75*1.0 + 0.25*0.5 = 0.875 →
    bits = -log2(0.875) ≈ 0.192645 (quantized to 6 decimals)."""
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    r = T.bigram_logprob(df).head()
    assert r.n_scored == 3
    assert abs(r.bits_per_token - 0.192645) < 1e-6


def test_bigram_backoff_on_unseen_pair(spark):
    """Scoring a new doc against a trained model: a novel bigram of known
    unigrams backs off to 0.25*p_uni instead of zero."""
    import math

    corpus = spark.createDataFrame([(1, "x y x y")], "doc_id long, text string")
    bm, um = T.bigram_model(corpus), T.unigram_model(corpus)
    new = spark.createDataFrame([(2, "y y")], "doc_id long, text string")
    r = T.bigram_logprob(new, bigram=bm, unigram=um).head()
    # pair (y,y) unseen; p_uni(y) = 0.5 → p = 0.125 → 3 bits
    assert r.n_scored == 1
    assert abs(r.bits_per_token - 3.0) < 1e-6


def test_bigram_short_docs_skipped(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, "a b")], "doc_id long, text string"
    )
    out = {r.doc_id for r in T.bigram_logprob(df).collect()}
    assert out == {2}  # one-token docs have no pairs to score


# ------------------------------------------------------------- winnowing


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee (Schleimer et al. 2003): any shared token
    run of length >= w + k - 1 produces at least one shared fingerprint."""
    import random

    rng = random.Random(5)
    words = [f"w{i}" for i in range(200)]
    passage = " ".join(rng.choice(words) for _ in range(12))
    a = " ".join(rng.choice(words) for _ in range(30)) + " " + passage
    b = passage + " " + " ".join(rng.choice(words) for _ in range(30))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    fps = T.winnow_fingerprints(df, "doc_id", "text", k=3, w=3).collect()
    f1 = {r.fp for r in fps if r.doc_id == 1}
    f2 = {r.fp for r in fps if r.doc_id == 2}
    assert f1 & f2


def test_winnow_density_and_short_doc_exclusion(spark):
    """Expected density ~2/(w+1) of the gram count; docs shorter than
    k + w - 1 tokens yield nothing."""
    import random

    rng = random.Random(11)
    long_text = " ".join(str(rng.randrange(10**6)) for _ in range(2000))
    df = spark.createDataFrame(
        [(1, long_text), (2, "too short here")], "doc_id long, text string"
    )
    fps = T.winnow_fingerprints(df, "doc_id", "text", k=5, w=4)
    per_doc = {
        r.doc_id: r.n
        for r in fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 2 not in per_doc
    n_grams = 2000 - 5 + 1
    # density 2/(w+1) = 0.4; distinct-dedup pushes it a bit lower
    assert 0.25 * n_grams < per_doc[1] < 0.55 * n_grams


def test_winnow_positions_are_gram_positions(spark):
    """Selected positions are 1-based k-gram indices within the doc: a
    re-hash of the gram at each reported position (tokens joined by the
    U+001F separator) reproduces the fingerprint exactly."""
    import hashlib

    text = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows_ = T.winnow_fingerprints(df, "doc_id", "text", k=3, w=2).collect()
    assert rows_
    toks = text.split()
    for r in rows_:
        gram = "\x1f".join(toks[r.pos - 1 : r.pos - 1 + 3])
        expect = int(hashlib.md5(gram.encode()).hexdigest()[:12], 16)
        assert r.fp == expect, (r.pos, gram)


def test_contamination_fraction_values(spark):
    """Hand-computed fractions: doc sharing half its distinct 2-grams with
    the eval set scores 0.5; a clean doc scores 0.0 and still appears."""
    train = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, "a b c q")], "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.n_hit, r.frac)
        for r in D.contamination_fraction(train, ev, n=2).collect()
    }
    # doc 1 grams: {a b, b c, c d}; eval grams: {a b, b c, c q} -> 2/3 hit
    assert got[1] == (3, 2, 2 / 3)
    assert got[2] == (3, 0, 0.0)


def test_autocomplete_topk(spark):
    from scio_spark.functions.text import autocomplete_topk

    docs = spark.createDataFrame(
        [(1, "cat cat cap dog"), (2, "cat dot dog dog")], "doc_id int, text string"
    )
    out = autocomplete_topk(docs, k=2, min_prefix=1, max_prefix=3)
    got = {
        (r.prefix, r.rank): (r.term, r.n) for r in out.collect()
    }
    # counts: cat=3, dog=3, cap=1, dot=1; ties break term-ASC
    assert got[("c", 1)] == ("cat", 3)
    assert got[("c", 2)] == ("cap", 1)
    assert got[("d", 1)] == ("dog", 3)
    assert got[("d", 2)] == ("dot", 1)
    assert got[("ca", 1)] == ("cat", 3)
    assert got[("cat", 1)] == ("cat", 3)
    assert ("cat", 2) not in got  # only one term has prefix 'cat'


def test_autocomplete_min_prefix_skips_short_terms(spark):
    """A term SHORTER than min_prefix must emit nothing: unguarded,
    sequence(min_prefix, length) DESCENDS when length < min_prefix (the
    Spark sequence gotcha) and fabricates bogus prefixes for the term."""
    from scio_spark.functions.text import autocomplete_topk

    docs = spark.createDataFrame(
        [(1, "a of off cat cat")], "doc_id int, text string"
    )
    out = autocomplete_topk(docs, k=3, min_prefix=3, max_prefix=4).collect()
    got = {(r.prefix, r.term) for r in out}
    # 'a' (len 1) and 'of' (len 2) are shorter than min_prefix=3 -> no rows
    assert got == {("off", "off"), ("cat", "cat")}
    for r in out:
        assert len(r.prefix) >= 3


def test_pack_sequences_skips_null_text(spark):
    """A NULL text row must be skipped, not crash the pack job (''.join
    over None raises in the executor) or shrink the budget (legacy
    size(split(NULL)) is -1)."""
    from scio_spark.functions.training import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")], "doc_id int, text string"
    )
    packs = pack_sequences(docs, token_budget=5).collect()
    assert sorted(i for p in packs for i in p.doc_ids) == [1, 3]
    assert sum(p.total_tokens for p in packs) == 5


def test_derive_lsh_params_pins_two_corpus_sizes():
    """band_bits=None rule (VERDICT r15 ask #3): band_bits holds the
    expected random-collision bucket at target_bucket_rows and bands
    scale to hold the explicit-defaults recall at the threshold."""
    # 100k rows / 1024-target -> ceil(log2(97.7)) = 7 bits; recall at
    # threshold 0.8 held by widening 16 -> 37 bands
    assert S.derive_lsh_params(100_000, 0.8) == (37, 7)
    # 100M rows -> 17 bits (bucket ~763), 398 bands
    assert S.derive_lsh_params(100_000_000, 0.8) == (398, 17)
    # at or under the target the explicit defaults win untouched
    assert S.derive_lsh_params(500, 0.8) == (16, 4)


def test_embedding_dedup_lsh_band_bits_none_small_corpus(embeddings):
    """On a corpus under target_bucket_rows the derived params equal the
    explicit defaults, so band_bits=None must reproduce the explicit
    run exactly (the contract row keeps explicit params)."""
    explicit = set(
        rows(
            S.embedding_dedup_pairs_lsh(
                embeddings, threshold=0.8, bands=16, band_bits=4, dim=16
            ),
            "id_1", "id_2",
        )
    )
    derived = set(
        rows(
            S.embedding_dedup_pairs_lsh(
                embeddings, threshold=0.8, bands=16, band_bits=None, dim=16
            ),
            "id_1", "id_2",
        )
    )
    assert derived == explicit
