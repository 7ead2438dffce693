"""Join suite — scio's crown jewel (SURVEY.md §2.3), Spark-first.

Scio builds every shuffle join on CoGroupByKey (util/ArtisanJoin.scala:37-115)
and offers manual flavors the user must pick: hashJoin (broadcast,
PairHashSCollectionFunctions.scala:41-143), sparseJoin (Bloom prefilter,
PairSCollectionFunctions.scala:291-437), skewedJoin (CMS hot-key split,
PairSkewedSCollectionFunctions.scala:186-570), MultiJoin (one-shuffle N-way,
util/MultiJoin.scala). Here Catalyst + AQE subsume most of that machinery;
the explicit variants below exist for (a) API parity, (b) the cases where the
automatic path needs a nudge (runtime BF disabled, extreme skew), and each
docstring states what the automatic equivalent is.

Scale notes (100 TB): every function here keeps the big side un-collected and
un-shuffled where possible — broadcast for small sides, semi-join reduction
before wide joins, salting bounded by an explicit replication factor.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cogroup(*colls, suffixes=None):
    """(K, (Iterable[V₁], …, Iterable[Vₙ])) — 2-way cogroup/groupWith
    (PairSCollectionFunctions.scala:116) and N-way MultiJoin.cogroup
    (util/MultiJoin.scala:34-530; scio codegens 2..22 arities, here one
    varargs function).

    Implementation: tag-and-union — each side contributes its value in its
    own column (null in the others), the union feeds ONE groupBy with a
    collect_list per side (collect_list skips nulls, so missing sides come
    out as empty arrays, matching scio's empty Iterables). Exactly one
    shuffle total with map-side partial aggregation per input branch — the
    same cost shape as scio's single CoGroupByKey over N tagged inputs
    (chained full-outer joins would re-shuffle the growing intermediate).
    """
    from scio_spark.pair import PairSCollection

    if len(colls) < 2:
        raise ValueError("cogroup needs at least 2 collections")
    if suffixes is None:
        suffixes = tuple(f"_{i + 1}" for i in range(len(colls)))
    keys = colls[0].key_cols
    names = ["values" + s for s in suffixes]

    vals_exprs, val_types = [], []
    for p in colls:
        vals = p.value_cols
        v = F.struct(*vals) if len(vals) > 1 else F.col(vals[0])
        vals_exprs.append(v)
        val_types.append(p.df.select(v.alias("__v")).schema[0].dataType)

    branches = []
    for i, p in enumerate(colls):
        cols = [F.col(k) for k in keys]
        for j in range(len(colls)):
            v = vals_exprs[j] if j == i else F.lit(None).cast(val_types[j])
            cols.append(v.alias(f"__v{j}"))
        branches.append(p.df.select(*cols))
    unioned = branches[0]
    for b in branches[1:]:
        unioned = unioned.unionByName(b)
    agged = unioned.groupBy(*keys).agg(
        *[F.collect_list(f"__v{j}").alias(n) for j, n in enumerate(names)]
    )
    return PairSCollection(agged, keys, colls[0].context)


def multi_join(colls: Sequence, how: str = "inner", suffix_fmt: str = "_{i}"):
    """MultiJoin.apply/left/outer (util/MultiJoin.scala:538/1315) — N-way
    equi-join on a shared key, 2..22 sources in scio (codegen'd);
    ``how="cogroup"`` gives MultiJoin.cogroup (grouped Iterables per side).

    Spark: chained joins on the same key. Catalyst plans one exchange per
    input but a single pipelined stage chain; with AQE the small sides flip
    to broadcast automatically. Semantics (per-key cartesian across all
    sides) match scio's nested emission loops.
    """
    from scio_spark.pair import PairSCollection

    if how == "cogroup":
        return cogroup(
            *colls,
            suffixes=tuple(suffix_fmt.format(i=i + 1) for i in range(len(colls))),
        )
    keys = colls[0].key_cols
    # Suffix colliding value columns by position, like scio's tuple slots.
    renamed = []
    seen: dict[str, int] = {}
    for i, p in enumerate(colls):
        df = p.df
        for c in p.value_cols:
            if c in seen or any(c in q.value_cols for j, q in enumerate(colls) if j != i):
                df = df.withColumnRenamed(c, c + suffix_fmt.format(i=i + 1))
        renamed.append(df)
    out = renamed[0]
    join_how = {"inner": "inner", "left": "left", "outer": "full"}[how]
    for df in renamed[1:]:
        out = out.join(df, on=keys, how=join_how)
    return PairSCollection(out, keys, colls[0].context)


# Above this many RHS keys an exact broadcast keyset risks driver/executor
# OOM (scio sizes per-partition Bloom filters by rhsNumKeys for the same
# reason, PairSCollectionFunctions.scala:394-437) — switch to a Bloom
# prefilter whose broadcast artifact is m/8 bytes regardless of key width.
SPARSE_JOIN_EXACT_KEYSET_MAX = 4_000_000


def sparse_join(left, right, how: str = "inner", fpp: float = 0.01,
                rhs_num_keys: int | None = None, suffixes=("_1", "_2")):
    """sparseJoin family (PairSCollectionFunctions.scala:291,330,370,253):
    RHS keyset is far smaller than LHS — pre-filter the LHS with a Bloom
    filter of RHS keys before the shuffle, so non-matching LHS rows never
    shuffle.

    Scio builds per-partition Guava BloomFilters sized by rhsNumKeys
    (:394-437). Two regimes here, picked by ``rhs_num_keys``:

    - keyset STATED broadcast-sized (rhs_num_keys ≤
      SPARSE_JOIN_EXACT_KEYSET_MAX): broadcast the *distinct RHS keyset*
      and semi-join — exact, strictly better than a BF at the same cost.
      With ``rhs_num_keys`` UNSTATED the semi-join carries no broadcast
      hint — the keyset size is unknown, and scio makes rhsNumKeys a
      required parameter for exactly this reason; AQE still broadcasts
      at runtime when the measured keyset is small;
    - keyset too big to ship exactly (> the threshold): build a
      functions/bloom.py BloomFilter over the RHS keys in ONE scan (no
      distinct shuffle — duplicate keys set the same bits; composite keys
      collapse through a single xxhash64), broadcast the m/8-byte bitmap
      sized by ``rhs_num_keys``/``fpp``, and prefilter the LHS with the
      vectorized Arrow probe. False positives only cost shuffle bytes —
      every flavor stays exact because the real join re-checks them (left/
      full emit FP rows with null RHS columns via the left/outer join;
      right drops them by construction).

    All four flavors reduce: right keeps all RHS rows off the reduced LHS
    (:370); full adds the passthrough of definite-non-member LHS rows. For a
    reusable filter artifact across many queries see functions/bloom.py
    (ApproxFilter analog).
    """
    from scio_spark.pair import PairSCollection

    keys = left.key_cols
    if rhs_num_keys is not None and rhs_num_keys > SPARSE_JOIN_EXACT_KEYSET_MAX:
        from scio_spark.functions.bloom import (
            build_bloom_filter, filter_with_bloom,
        )

        h = F.xxhash64(*[F.col(k) for k in keys]).alias("__sj_h")
        bf = build_bloom_filter(
            right.df.select(h), "__sj_h", expected=rhs_num_keys, fpp=fpp
        )
        lhs = left.df.select("*", h)

        def _hit():
            return filter_with_bloom(lhs, "__sj_h", bf).drop("__sj_h")

        def _miss():  # definite non-members — no false negatives
            return filter_with_bloom(lhs, "__sj_h", bf, negate=True).drop("__sj_h")
    else:
        rhs_keys = right.df.select(*keys).distinct()
        # hint only when the caller BOUNDED the keyset (≤ the exact-keyset
        # max); an unstated keyset could be corpus-sized — leave the
        # strategy to AQE's measured size
        if rhs_num_keys is not None:
            rhs_keys = F.broadcast(rhs_keys)

        def _hit():
            return left.df.join(rhs_keys, keys, "left_semi")

        def _miss():
            return left.df.join(rhs_keys, keys, "left_anti")

    if how == "inner":
        reduced = PairSCollection(_hit(), keys, left.context)
        return reduced.join(right, "inner", suffixes=suffixes)

    def miss_passthrough(joined):
        """LHS rows with no RHS key pass through with null RHS columns —
        scio's union-of-paths (:330); aligned to the joined schema."""
        miss = _miss()
        for c in left.value_cols:
            if c + suffixes[0] in joined.df.columns:
                miss = miss.withColumnRenamed(c, c + suffixes[0])
        for field in joined.df.schema.fields:
            if field.name not in miss.columns:
                miss = miss.withColumn(field.name, F.lit(None).cast(field.dataType))
        return miss.select(*joined.df.columns)

    hit = PairSCollection(_hit(), keys, left.context)
    if how == "left":
        joined = hit.join(right, "left", suffixes=suffixes)
        return PairSCollection(
            joined.df.unionByName(miss_passthrough(joined)), keys, left.context
        )
    if how == "right":
        # every droppable LHS row matches nothing, and a right join keeps
        # all RHS rows regardless — the reduction is exact (:370)
        return hit.join(right, "right", suffixes=suffixes)
    if how in ("outer", "full"):
        # full outer of the REDUCED lhs with the full rhs covers matched
        # pairs + unmatched RHS; unmatched LHS rows are the passthrough
        joined = hit.join(right, "outer", suffixes=suffixes)
        return PairSCollection(
            joined.df.unionByName(miss_passthrough(joined)), keys, left.context
        )
    raise ValueError(f"sparse_join: unsupported how={how!r}")


def sparse_lookup(left, right, suffixes=("_1", "_2")):
    """PairSCollectionFunctions.scala:438 ``sparseLookup`` — join RHS values
    into LHS as an array, after semi-join reduction of the RHS by LHS keys."""
    from scio_spark.pair import PairSCollection

    keys = left.key_cols
    lhs_keys = left.df.select(*keys).distinct()
    reduced_rhs = right.df.join(lhs_keys, keys, "left_semi")
    vals = [c for c in reduced_rhs.columns if c not in keys]
    v = F.struct(*vals) if len(vals) > 1 else F.col(vals[0])
    rhs_grouped = reduced_rhs.groupBy(*keys).agg(F.collect_list(v).alias("matches"))
    out = left.df.join(rhs_grouped, keys, "left").withColumn(
        "matches", F.coalesce(F.col("matches"), F.array())
    )
    return PairSCollection(out, keys, left.context)


def build_kv_store(
    right: DataFrame,
    key_col: str,
    store_dir: str | None = None,
    n_shards: int = 16,
) -> str:
    """Build a PERSISTENT sharded disk KV store from a DataFrame — the
    Sparkey artifact half of scio's ``asLargeMapSideInput`` (scio-extra
    sparkey SCollectionSyntax; sharded parallel build =
    sparkey/instances/ShardedSparkeyReader.scala). Build once, probe from
    any number of later jobs via ``kv_store_join`` — the side-input reuse
    pattern Sparkey exists for.

    Fully DISTRIBUTED: the input is hash-repartitioned on
    ``pmod(xxhash64(key), n_shards)`` and each task writes the sqlite KV
    shard(s) for the shard ids it owns (every shard id lands wholly in one
    task, so each file has a single writer; files land atomically via
    os.replace, making task retries idempotent). No row ever passes through
    the driver; the driver writes only ``_manifest.json`` (key column,
    shard list, value schema) after the build action completes. On a
    multi-node cluster ``store_dir`` must be shared storage.

    Encoding: keys are stored as JSON text with ``default=str`` — used ONLY
    for equality, and build and probe derive it from the same Arrow→pandas
    value, so the coercion is symmetric. Values are pickled
    (type-preserving), so date/timestamp/Decimal/binary/array columns
    round-trip to their declared Spark types at probe time.

    Returns ``store_dir``."""
    import json
    import os
    import pickle
    import sqlite3
    import tempfile
    import uuid

    import pandas as pd

    tag = f"kv_store_{uuid.uuid4().hex}"
    out_dir = store_dir or tempfile.mkdtemp(prefix=tag + "_")
    os.makedirs(out_dir, exist_ok=True)
    # SQL join semantics: NULL keys never match — drop them at build time
    # (json-encoding both sides would otherwise equate NULL with NULL)
    right = right.filter(F.col(key_col).isNotNull())
    rhs_cols = [c for c in right.columns if c != key_col]
    shard_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")

    def build(batches):
        """One sqlite file per shard id present in this task's partition
        (hash partitioning on the shard column ⇒ exactly one writer each)."""
        staged: dict[int, tuple[sqlite3.Connection, str, str]] = {}

        def con_for(s: int) -> sqlite3.Connection:
            if s not in staged:
                final = os.path.join(out_dir, f"{tag}_shard_{s}.db")
                tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                c = sqlite3.connect(tmp)
                c.execute("CREATE TABLE kv (k TEXT, v BLOB)")
                staged[s] = (c, tmp, final)
            return staged[s][0]

        for pdf in batches:
            if not len(pdf):
                continue
            ks = pdf[key_col].tolist()
            shards = pdf["__shard"].tolist()
            vcols = [pdf[c].tolist() for c in rhs_cols]
            per_shard: dict[int, list[tuple[str, bytes]]] = {}
            for i, (k, s) in enumerate(zip(ks, shards)):
                per_shard.setdefault(int(s), []).append(
                    (
                        json.dumps(k, default=str),
                        pickle.dumps(
                            [col[i] for col in vcols],
                            protocol=pickle.HIGHEST_PROTOCOL,
                        ),
                    )
                )
            for s, rws in per_shard.items():
                con_for(s).executemany("INSERT INTO kv VALUES (?, ?)", rws)
        for s, (c, tmp, final) in staged.items():
            c.execute("CREATE INDEX kv_k ON kv (k)")
            c.commit()
            c.close()
            os.replace(tmp, final)  # atomic publish — retries overwrite whole
        yield pd.DataFrame({"shard": sorted(staged)})

    built = (
        right.withColumn("__shard", shard_expr)
        .repartition(n_shards, "__shard")
        .mapInPandas(build, "shard int")
        .collect()  # shard ids only — no rows reach the driver
    )
    manifest = {
        "key_col": key_col,
        "n_shards": n_shards,
        "tag": tag,
        "shards": sorted(int(r["shard"]) for r in built),
        "value_cols": rhs_cols,
        "value_schema": json.loads(
            right.select(*rhs_cols).schema.json()
        ) if rhs_cols else {"type": "struct", "fields": []},
    }
    mtmp = os.path.join(out_dir, f"_manifest.json.tmp.{os.getpid()}")
    with open(mtmp, "w") as f:
        json.dump(manifest, f)
    os.replace(mtmp, os.path.join(out_dir, "_manifest.json"))
    return out_dir


def kv_store_join(
    left: DataFrame,
    store_dir: str,
    how: str = "inner",
) -> DataFrame:
    """Probe a ``build_kv_store`` artifact — the lookup half of scio's
    Sparkey side-input join. The store is registered via
    ``SparkContext.addFile`` (the DistCache path: each executor downloads
    each shard once, then every task reads locally, across any number of
    joins in the session).

    Probe is BATCHED per Arrow chunk: the shard id is computed JVM-side
    with the same xxhash64 expression the build used, each chunk's unique
    keys are looked up with chunked ``IN`` queries against the (indexed)
    owning shards, and matches attach via a vectorized pandas merge — no
    per-row SQL. The LHS never shuffles. ``how``: inner or left; multiple
    stored rows per key emit one output row per match."""
    import json
    import os
    import pickle
    import sqlite3

    import pandas as pd
    from pyspark.sql.types import StructType

    if how not in ("inner", "left"):
        raise ValueError("kv_store_join supports how='inner'|'left'")
    with open(os.path.join(store_dir, "_manifest.json")) as f:
        man = json.load(f)
    key_col, tag = man["key_col"], man["tag"]
    rhs_cols = man["value_cols"]
    present = frozenset(man["shards"])
    value_schema = StructType.fromJson(man["value_schema"])
    if key_col not in left.columns:
        raise ValueError(
            f"kv_store_join: probe side has no column {key_col!r} "
            f"(store was built on it)"
        )

    spark = left.sparkSession
    for s in present:
        spark.sparkContext.addFile(os.path.join(store_dir, f"{tag}_shard_{s}.db"))

    shard_expr = F.pmod(
        F.xxhash64(F.col(key_col)), F.lit(man["n_shards"])
    ).cast("int")
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema.fields
    )
    if value_schema.fields:
        out_schema += ", " + ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in value_schema.fields
        )
    lhs_cols = list(left.columns)

    def probe(batches):
        from pyspark import SparkFiles

        cons: dict[int, sqlite3.Connection] = {}

        def con_for(s: int) -> sqlite3.Connection:
            if s not in cons:
                path = SparkFiles.get(f"{tag}_shard_{s}.db")
                cons[s] = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
            return cons[s]

        try:
            for pdf in batches:
                if not len(pdf):
                    yield pd.DataFrame(columns=lhs_cols + rhs_cols)
                    continue
                keys_json = [
                    json.dumps(k, default=str) for k in pdf[key_col].tolist()
                ]
                shards = pdf["__shard"].tolist()
                by_shard: dict[int, set] = {}
                for kj, s in zip(keys_json, shards):
                    # NULL probe keys have a NULL shard id — never looked
                    # up (SQL semantics: NULL matches nothing; left keeps
                    # the row with NULL values, inner drops it)
                    if not pd.isna(s) and int(s) in present:
                        by_shard.setdefault(int(s), set()).add(kj)
                hits: list[tuple] = []
                for s, kset in by_shard.items():
                    con, kl = con_for(s), list(kset)
                    for i in range(0, len(kl), 500):
                        chunk = kl[i : i + 500]
                        q = (
                            "SELECT k, v FROM kv WHERE k IN ("
                            + ",".join("?" * len(chunk))
                            + ")"
                        )
                        hits.extend(
                            (k, *pickle.loads(v)) for k, v in con.execute(q, chunk)
                        )
                matches = pd.DataFrame(hits, columns=["__kj"] + rhs_cols)
                base = pdf[lhs_cols].assign(__kj=keys_json)
                merged = base.merge(
                    matches, on="__kj", how="left" if how == "left" else "inner"
                )
                if how == "left":
                    # pandas fills unmatched object cells with float NaN,
                    # which Arrow can't convert to array/date/decimal/binary
                    # types — normalize to None
                    for c in rhs_cols:
                        if merged[c].dtype == object:
                            merged[c] = merged[c].map(
                                lambda v: None
                                if isinstance(v, float) and pd.isna(v)
                                else v
                            )
                yield merged[lhs_cols + rhs_cols]
        finally:
            for c in cons.values():
                c.close()

    return left.withColumn("__shard", shard_expr).mapInPandas(probe, out_schema)


def large_hash_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    how: str = "inner",
    n_shards: int = 16,
    shard_dir: str | None = None,
) -> DataFrame:
    """largeHashJoin / Sparkey side-input join (scio-extra sparkey
    SCollectionSyntax ``asLargeMapSideInput``): the RHS is too big to
    broadcast as an in-memory map but fits on worker DISK as a static KV
    store. One-shot composition of ``build_kv_store`` (distributed sharded
    sqlite build, no driver rows) + ``kv_store_join`` (Arrow-batched
    indexed probe, LHS never shuffles) — build the store separately to
    reuse it across jobs, the actual Sparkey pattern."""
    store = build_kv_store(right, key_col, store_dir=shard_dir, n_shards=n_shards)
    return kv_store_join(left, store, how=how)



def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols,
    left_ts: str,
    right_ts: str,
    right_value_cols=None,
    how: str = "inner",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts per key. Not in scio (SURVEY §2.3 note: inherited
    from the Spark ecosystem); a training-data staple (align events to the
    most recent snapshot/label).

    Spark-first implementation — union both sides tagged, one window pass
    per key ordered by (ts, side) carrying the last seen right values
    forward (``last(..., ignorenulls=True)``). ONE shuffle on key, no
    per-group Python (contrast `pd.merge_asof` via applyInPandas, which
    pulls groups into pandas). Right side should be unique per (key, ts)
    for determinism — pre-aggregate ties.
    """
    from pyspark.sql import Window

    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in key_cols + [right_ts]
    ]
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    for c in right_value_cols:
        l = l.withColumn("__r_" + c, F.lit(None).cast(dict(right.dtypes)[c]))
    r = right.withColumn("__ts", F.col(right_ts)).withColumn("__side", F.lit(0))
    for c in right_value_cols:
        r = r.withColumn("__r_" + c, F.col(c))
    lcols = list(left.columns)
    union_cols = lcols + ["__ts", "__side"] + ["__r_" + c for c in right_value_cols]
    l_sel = l.select(*dict.fromkeys(union_cols))
    ltypes = dict(left.dtypes)
    r_exprs = []
    for c in l_sel.columns:
        if c in key_cols or c in ("__ts", "__side") or c.startswith("__r_"):
            r_exprs.append(F.col(c))
        else:  # left-only column → typed null on the right arm
            r_exprs.append(F.lit(None).cast(ltypes[c]).alias(c))
    u = l_sel.unionByName(r.select(*r_exprs))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        *[
            F.last("__r_" + c, ignorenulls=True).over(w).alias("__m_" + c)
            for c in right_value_cols
        ],
        F.last(F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True)
        .over(w)
        .alias("__m_ts"),
    )
    out = carried.filter(F.col("__side") == 1).select(
        *lcols,
        F.col("__m_ts").alias("matched_ts"),
        *[F.col("__m_" + c).alias(c) for c in right_value_cols],
    )
    if how == "inner":
        out = out.filter(F.col("matched_ts").isNotNull())
    return out


def skewed_join(left, right, how: str = "inner", hot_key_threshold: int = 9000,
                sample_fraction: float | None = None, suffixes=("_1", "_2")):
    """skewedJoin (PairSkewedSCollectionFunctions.scala:186-281; threshold
    default 9000 at :63): split hot keys (broadcast-join them) from the chill
    remainder (shuffle join), then union.

    Spark's AQE skew-join splits oversized *partitions* at runtime and is the
    default answer. This explicit variant reproduces scio's semantics for the
    extreme case AQE can't fix (a single key larger than an executor): find
    hot keys by count (Catalyst partial agg ≈ scio's CMS at a fraction of the
    code), broadcast-join the hot slice, shuffle-join the rest.

    ``sample_fraction`` (the CMS sampleFraction knob,
    PairSkewedSCollectionFunctions.scala:600-612): detect hot keys over a
    Bernoulli sample of the LHS with the threshold scaled by the fraction —
    at 100 TB an exact full count of every key just to FIND the hot ones is
    itself a full shuffle; a 1% sample sees a 9000-row key ~90 times, far
    above noise. Detection becomes approximate (keys near the threshold may
    flip sides) but the JOIN RESULT is exact either way — hot/chill is a
    partition of the keyspace and both slices join correctly, so the knob
    trades only split quality, never correctness."""
    from scio_spark.pair import PairSCollection

    keys = left.key_cols
    detect_src, eff_threshold = left.df, float(hot_key_threshold)
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError("sample_fraction must be in (0, 1]")
        detect_src = left.df.sample(fraction=sample_fraction, seed=42)
        eff_threshold = hot_key_threshold * sample_fraction
    hot_keys = F.broadcast(
        detect_src.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > eff_threshold)
        .select(*keys)
    )
    l_hot = left.df.join(hot_keys, keys, "left_semi")
    l_chill = left.df.join(hot_keys, keys, "left_anti")
    r_hot = right.df.join(hot_keys, keys, "left_semi")
    r_chill = right.df.join(hot_keys, keys, "left_anti")

    lh = PairSCollection(l_hot, keys, left.context)
    lc = PairSCollection(l_chill, keys, left.context)
    rh = PairSCollection(r_hot, keys, left.context)
    rc = PairSCollection(r_chill, keys, left.context)

    hot_joined = lh.hash_join(rh, how=how, suffixes=suffixes)
    chill_joined = lc.join(rc, how=how, suffixes=suffixes)
    return PairSCollection(
        hot_joined.df.unionByName(chill_joined.df, allowMissingColumns=True),
        keys,
        left.context,
    )
