"""Plan-shape audit of the actual contract queries (__spark_entry__) —
the '.explain and iterate' loop pinned as asserts so regressions show up.

These run at sf0.001 (plan shape is scale-invariant for these checks)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from scio_spark.plans import lint

SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = ent.queries()["pricing_summary"](spark, SF)
    # shipdate predicate reaches the parquet scan
    assert any("l_shipdate" in p for p in lint.scan_pushed_filters(df))
    # only the 7 needed columns read, not all 11
    schemas = lint.scan_read_schemas(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)
    # exactly one shuffle (the groupBy) before AQE
    assert lint.count_shuffles(df) == 1


def test_top_orders_filter_pushdown(spark):
    df = ent.queries()["top_orders"](spark, SF)
    assert any("c_mktsegment" in p for p in lint.scan_pushed_filters(df))


def test_hash_join_query_broadcasts(spark):
    df = ent.queries()["hash_join"](spark, SF)
    assert lint.has_broadcast_join(df)
    assert lint.count_shuffles(df) == 0


def test_local_supplier_volume_broadcasts_dims(spark):
    df = ent.queries()["local_supplier_volume"](spark, SF)
    plan = lint.executed_plan(df)
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle
    assert any("r_name" in p for p in lint.scan_pushed_filters(df))


def test_sparse_join_query_semi_reduces(spark):
    df = ent.queries()["sparse_join"](spark, SF)
    plan = lint.executed_plan(df)
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert any("p_size" in p for p in lint.scan_pushed_filters(df))


def test_embedding_topk_gemm_candidates_then_broadcast_rescore(spark):
    df = ent.queries()["embedding_topk"](spark, SF)
    plan = lint.executed_plan(df)
    # GEMM candidate generation (Arrow batch) + broadcast of the query set
    # for the exact rescore: corpus side joins without shuffling on queries
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------- salted fanout


def test_salted_agg_matches_plain(sc):
    hot = sc.parallelize(
        [("hot", i) for i in range(1000)] + [("cold", 1)], schema=["k", "v"]
    ).key_by("k")
    plain = dict(
        (r["k"], (r["total"], r["n"]))
        for r in hot.agg_by_key(total="SUM(v)", n="COUNT(*)").collect()
    )
    salted = dict(
        (r["k"], (r["total"], r["n"]))
        for r in hot.salted_agg_by_key(
            16,
            partial={"s": "SUM(v)", "c": "COUNT(*)"},
            final={"total": "SUM(s)", "n": "SUM(c)"},
        ).collect()
    )
    assert plain == salted


def test_salted_agg_collect_list_size(sc):
    hot = sc.parallelize([("k", i) for i in range(100)], schema=["k", "v"]).key_by("k")
    out = hot.salted_agg_by_key(
        8,
        partial={"vals": "COLLECT_LIST(v)"},
        final={"all_vals": "FLATTEN(COLLECT_LIST(vals))"},
    ).collect()
    assert len(out) == 1 and sorted(out[0]["all_vals"]) == list(range(100))


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval shingle set must be the broadcast side — the training corpus
    never shuffles on the shingle key."""
    df = ent.queries()["decontaminate"](spark, SF)
    from scio_spark.plans import lint

    assert lint.has_broadcast_join(df)


def test_jaccard_verify_no_forced_corpus_broadcast(spark):
    """The per-doc shingle-count table joined into the jaccard verify is
    CORPUS-sized (one row per document) — a static broadcast hint on it
    would OOM the driver at 100 TB. The logical plan must carry no
    broadcast strategy hint; at small scale AQE still picks a broadcast
    join at runtime from the observed size, so nothing is lost locally."""
    from scio_spark.functions import dedup as D
    from scio_spark.plans.lint import optimized_plan

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(6)] + [(9, "x y z w v u t s")],
        "doc_id long, text string",
    )
    for out in (
        D.minhash_lsh_dedup(docs, min_jaccard=0.5),
        D.ngram_jaccard_dedup(docs, min_jaccard=0.5),
        D.ngram_jaccard_dedup(docs, min_jaccard=0.5, max_doc_freq=100),
    ):
        assert "strategy=broadcast" not in optimized_plan(out)
    # values unchanged: every doc pair in the first clique is identical
    got = {(r.id_1, r.id_2) for r in D.ngram_jaccard_dedup(docs, min_jaccard=0.99).collect()}
    assert got == {(i, j) for i in range(6) for j in range(i + 1, 6)}


def test_data_mixture_pushes_source_filters(spark):
    """Per-source doc_id filters reach the parquet scans."""
    df = ent.queries()["data_mixture"](spark, SF)
    from scio_spark.plans import lint

    assert lint.scan_pushed_filters(df)


# ------------------------------------------------- all-pairs size lint


def test_all_pairs_lint_red_on_synthetic_cross(spark):
    """Two non-trivial sides in a cross join must be flagged."""
    a = spark.range(200_000).select(F.col("id").alias("a"))
    b = spark.range(200_000).select(F.col("id").alias("b"))
    bad = lint.find_all_pairs_joins(a.crossJoin(b), max_side_bytes=1 << 10)
    assert bad and "O(n*m)" in bad[0]


def test_all_pairs_lint_allows_scalar_side(spark):
    """A 1-row scalar join (corpus total) is the legitimate BNLJ shape."""
    a = spark.range(100_000).select(F.col("id").alias("a"))
    total = a.agg(F.count(F.lit(1)).alias("n"))
    assert lint.find_all_pairs_joins(a.crossJoin(total)) == []


@pytest.mark.parametrize(
    "qname", ["fuzzy_join", "interval_join", "asof_join", "source_overlap"]
)
def test_contract_join_queries_have_no_unbounded_all_pairs(spark, qname):
    """The non-equi-join-shaped contract queries stay shuffle-shaped:
    no BroadcastNestedLoopJoin/CartesianProduct with two non-trivial
    sides anywhere in their plans."""
    df = ent.queries()[qname](spark, SF)
    lint.assert_no_unbounded_all_pairs(df)


def test_running_total_single_data_exchange_and_pushdown(spark):
    """The scan's bucket path: the shipdate predicate reaches the parquet
    scan, and the only full-data exchange is the window's hash exchange on
    the bucket column (no rangepartitioning anywhere — the
    repartitionByRange spelling would add a second full shuffle)."""
    df = ent.queries()["running_total"](spark, SF)
    assert any("l_shipdate" in p for p in lint.scan_pushed_filters(df))
    plan = lint.executed_plan(df)
    assert "rangepartitioning" not in plan
    assert "__scan_pid" in plan


def test_source_cap_prunes_columns(spark):
    df = ent.queries()["source_cap"](spark, SF)
    schemas = lint.scan_read_schemas(df)
    # text (the wide column) must not be read for a cap on doc_id/source
    assert schemas and all("text" not in s for s in schemas)


def test_funnel_joins_stay_keyed(spark):
    """No cartesian/BNLJ anywhere in the funnel chain — each stage is an
    equi-join on the user key."""
    df = ent.queries()["funnel"](spark, SF)
    plan = lint.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_traffic_max_lane_flow_single_exchange_struct_argmax(spark):
    """TrafficMaxLaneFlow pins the partial-agg struct-argmax shape: the
    per-(window, station) argmax must stay a max(struct(...)) aggregate —
    map-side partial_max, then ONE hash exchange — never a ROW_NUMBER
    window (whose per-partition sort of every reading is the expensive
    spelling at 100 TB). The SortAggregate's grouping Sort is fine; a
    Window operator is the regression."""
    df = ent.queries()["traffic_max_lane_flow"](spark, SF)
    plan = lint.executed_plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan
    assert "partial_max(struct(" in plan  # map-side combine survives


def test_traffic_routes_one_lag_window_two_exchanges(spark):
    """TrafficRoutes pins its shape: ONE Window (the per-station
    consecutive-pair LAG — the semantics require it) feeding a
    partial-aggregable group, two hash exchanges total, no global sort
    (the LAG's ordering is within hash partitions, never a
    rangepartitioning)."""
    df = ent.queries()["traffic_routes"](spark, SF)
    plan = lint.executed_plan(df)
    assert plan.count("Exchange") == 2, plan
    assert plan.count("Window") == 1
    assert "rangepartitioning" not in plan


def test_data_checks_row_rules_single_scan(spark):
    """All four row rules share one aggregate; lineitem is scanned once
    for them (the uniqueness rule adds its own scan + partial agg)."""
    df = ent.queries()["data_checks"](spark, SF)
    plan = lint.executed_plan(df)
    assert plan.count("FileScan parquet") <= 2


# ------------------------------------------- top-compute plan budgets (r13)

# Exchange-count and join-strategy budgets for the most expensive compute
# queries (BENCH top-20 by warm time + ann_hnsw), pinned from the plans
# shipped in round 13 (capture: tools/plan_budgets.py). A refactor that
# adds a shuffle or loses a broadcast now fails HERE instead of surfacing
# as bench drift. Budgets are ceilings (<=): AQE may remove exchanges at
# runtime but the pre-AQE plan is deterministic at a pinned Spark version.
TOP_COMPUTE_BUDGETS = {
    # name: (max total Exchange nodes, required join substring or None)
    "dedup_clusters": (0, None),  # returns a checkpoint; lineage truncated
    # r15-opt: +fan_out_scan round-robin exchange ahead of the shingle
    # explode (fanout.py — fires only on narrow scans; repeated per
    # shingle-diamond reference in the pre-AQE plan, reused at runtime)
    "dedup_minhash_lsh": (19, "BroadcastHashJoin"),
    "sparse_join_bloom": (2, "BroadcastHashJoin"),
    "incremental_dedup": (9, "BroadcastHashJoin"),
    "fuzzy_join": (20, "BroadcastHashJoin"),
    "smb_join": (2, "BroadcastHashJoin"),
    "substring_dedup": (9, "BroadcastHashJoin"),
    "dedup_ngram_jaccard": (14, "BroadcastHashJoin"),
    "dsir_select": (4, "BroadcastHashJoin"),
    "winnow_fingerprints": (6, "BroadcastHashJoin"),
    "curation_e2e": (3, "BroadcastHashJoin"),
    "dedup_simhash": (4, "BroadcastHashJoin"),
    "pipe_identity": (0, None),
    # r15-opt: +fan_out_scan round-robin exchange ahead of the per-row
    # stopword-hit expressions (0.88-1.05 -> 0.44-0.50 s warm at sf0.1;
    # no-op at production scan widths)
    "lang_id": (1, None),
    "video_mjpeg": (0, None),
    "bigram_lm": (10, "BroadcastHashJoin"),
    "merge_upsert": (1, None),
    "zorder_layout": (2, None),
    "aggregate_global": (0, None),
    "smb_transform": (1, None),
    "ann_hnsw": (3, "BroadcastHashJoin"),
    # r14 additions: banded-LSH embedding dedup and the streamed IVF path
    # (centroid cogroup + rescore joins). r15: the LSH path trades the sig
    # self-join for a (band,sig) bucket-GEMM group — one more Exchange
    # node, but the collision volume no longer exists as shuffled rows.
    "dedup_embedding_lsh": (5, "BroadcastHashJoin"),
    "ann_ivf_streamed": (5, "FlatMapCoGroupsInPandas"),
    # the rest of the near-dup family (block-pair GEMM, staged-index
    # probe, SemDeDup full and incremental), pinned before they moved onto
    # the shared threshold tail, incremental probe and mark kernel
    "dedup_embedding": (6, "BroadcastHashJoin"),
    "incremental_embedding_dedup": (5, "BroadcastHashJoin"),
    "semantic_dedup": (2, None),
    "semantic_dedup_incremental": (2, None),
    # the rest of the top-k family (IVF in-memory and persisted, PQ and
    # IVF-PQ indexes, sharded HNSW), pinned before the IVF searches shared
    # one routing step and HNSW moved onto the core's placements
    "ann_ivf": (3, "BroadcastHashJoin"),
    "ann_ivf_appended": (3, "BroadcastHashJoin"),
    "ann_pq_index": (4, "BroadcastHashJoin"),
    "ann_ivfpq_index": (4, "BroadcastHashJoin"),
    "ann_hnsw_sharded": (5, "BroadcastHashJoin"),
}


@pytest.mark.parametrize("qname", sorted(TOP_COMPUTE_BUDGETS))
def test_top_compute_query_plan_budgets(spark, qname):
    max_exch, want_join = TOP_COMPUTE_BUDGETS[qname]
    df = ent.queries()[qname](spark, SF)
    plan = lint.executed_plan(df)
    n_exch = plan.count("Exchange")
    assert n_exch <= max_exch, (
        f"{qname}: {n_exch} Exchange nodes (budget {max_exch}) — a shuffle "
        f"was added; if intentional, re-pin via tools/plan_budgets.py\n{plan}"
    )
    if want_join is not None:
        assert want_join in plan, f"{qname}: expected {want_join}\n{plan}"
    assert "CartesianProduct" not in plan, qname
    # BroadcastNestedLoopJoin is legal only with a scalar/bounded side
    lint.assert_no_unbounded_all_pairs(df)
