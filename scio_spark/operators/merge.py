"""MERGE INTO / DELETE for plain-parquet tables, partition-pruned.

Beyond-reference table-maintenance primitive. The reference leaves table
upserts to the warehouse (BigQuery MERGE) or a table format; on a plain
parquet lake this module is the one upsert path: batch callers use it
directly, and ``streaming.core.maintain_rollup`` calls ``merge_into`` once
per epoch for its continuous aggregate. The pruned path:

1. find the partitions the source touches (small distinct collect),
2. read ONLY those partitions of the target (``isin`` on the partition
   column → static directory pruning; table history is never re-scanned),
3. anti-join out the matched keys, union the source rows,
4. write the merged partitions to a sibling temp dir (fully distributed,
   one file per partition directory via repartition(part_col)),
5. swap each partition directory in with Hadoop-FS renames (live dir
   aside → new dir in → drop the aside) — idempotent under retry, atomic
   per partition; ``_recover_swap`` repairs a crashed swap on the next
   call.

Without a partition column the operation degrades to a documented full
rewrite — still distributed, swapped in with a crash-recoverable rename
dance (old table aside → tmp into place → drop the old copy, so no crash
window ever leaves the target path empty) — correct, but at 100 TB
partition your tables. NULL partition values are rejected up front in
the pruned path (they cannot be pruned with ``isin`` and would silently
lose target rows). With a table format available (Delta/Iceberg) the
same call maps to a real MERGE; this is the format-less fallback with the
same pruning property.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _xxhashable(dt) -> bool:
    """Whether ``xxhash64`` accepts a column of this type: Spark rejects
    MapType at any nesting depth (HashExpression checks recursively), so
    the compaction salt must skip such columns."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


# Characters Spark/Hive escape in partition directory names
# (ExternalCatalogUtils.escapePathName / Hive FileUtils): this set plus
# all control chars; escaped as %XX (uppercase hex).
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_part_value(v) -> str:
    """The directory-name form of a partition value, matching what Spark
    writes under ``partitionBy`` — so cleanup paths derived from VALUES
    line up with directories derived from WRITES (NULL would map to
    __HIVE_DEFAULT_PARTITION__, but NULL partition values are rejected
    up front by merge_into/delete_where).

    Renderings where Python's str() and Spark's directory form DIVERGE
    are handled explicitly: booleans (Spark writes 'true'/'false') are
    converted; floats and sub-second timestamps (Java's scientific
    notation / trailing-zero trimming differ from Python's) are rejected
    with an actionable error rather than silently producing a name that
    never matches — a mismatch here would leave a fully-deleted
    partition's directory in place and resurface its rows."""
    import datetime as _dt

    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, float):
        raise ValueError(
            "float partition values are not supported by the pruned "
            "merge/delete path (Java and Python render them differently, "
            "e.g. 1.0E-7 vs 1e-07); partition on a string/int form instead"
        )
    elif isinstance(v, _dt.datetime) and v.microsecond:
        raise ValueError(
            "sub-second timestamp partition values are not supported by "
            "the pruned merge/delete path (trailing-zero rendering "
            "differs between engines); truncate to whole seconds"
        )
    else:
        s = str(v)
    return "".join(
        "%{:02X}".format(ord(ch)) if ch in _ESCAPE_CHARS or ord(ch) < 32 else ch
        for ch in s
    )


def _unescape_part_dirname(s: str) -> str | None:
    """Inverse of Spark's partition-directory escaping (%XX sequences →
    chars): recovers the STRING form of a partition value from its
    directory name, for joining against ``col.cast('string')``. The
    null-partition marker maps to None (NULL), matched via eqNullSafe."""
    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    out, i = [], 0
    while i < len(s):
        ch = s[i]
        if ch == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(ch)
        i += 1
    return "".join(out)


# Above this many affected partition values, prune with a broadcast
# semi-join instead of a literal IN list: an isin over tens of thousands
# of literals bloats the plan (analysis/codegen cost grows with the
# list), while the semi-join keeps the plan constant-size and still
# prunes directories at runtime via dynamic partition pruning. Below it,
# the literal list wins: static PartitionFilters prune at planning time
# with no join in the plan at all.
_ISIN_PRUNE_MAX = 1000


def _prune_to_partitions(
    df: DataFrame, partition_col: str, affected: list
) -> DataFrame:
    """``df`` restricted to rows whose ``partition_col`` is in ``affected``
    (all values non-NULL — callers reject NULLs first), with a plan whose
    size does NOT grow linearly in ``len(affected)`` past _ISIN_PRUNE_MAX.
    Same constant-plan-size rationale as scan._searchsorted's bucket grid."""
    if len(affected) <= _ISIN_PRUNE_MAX:
        return df.filter(F.col(partition_col).isin(affected))
    spark = df.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(partition_col, df.schema[partition_col].dataType)]
    )
    vals = spark.createDataFrame([(v,) for v in affected], schema)
    return df.join(F.broadcast(vals), partition_col, "left_semi")


def _reject_null_partitions(affected, partition_col: str, op: str) -> list:
    """Pruned-merge contract guard: a NULL partition value cannot be
    pruned with ``isin`` (NULL never matches) and would silently drop the
    target's null-partition rows from 'keep' while the swap replaces the
    __HIVE_DEFAULT_PARTITION__ directory with source-only rows. Explicitly
    unsupported — fail loudly instead."""
    if any(v is None for v in affected):
        raise ValueError(
            f"{op}: NULL values in partition column {partition_col!r} are "
            "not supported by the partition-pruned path (NULL never "
            "matches the isin prune filter, so target rows in the null "
            "partition would be silently dropped). Filter them out or "
            "merge without partition_col."
        )
    return affected


# Aside-copy suffix for the swap protocol. Contains a raw '%': Spark
# escapes '%' in partition-directory VALUES (as %25), so no partitionBy-
# written directory can ever literally end with this suffix — a real
# partition value like 'a__old' therefore can't be mistaken for a crashed
# swap's aside copy (which a bare '__old' suffix would be).
_OLD_SUFFIX = "__old%scio"

# Pre-upgrade aside suffix (releases that swapped with a bare '__old').
# _recover_swap still RESTORES a TABLE-level legacy aside — a crash under
# the old suffix followed by a retry under the new one must not treat the
# table as new and drop history — but only in the restore direction
# (target missing) AND only with corroborating evidence of a crashed swap
# (a '<target>__merge_tmp'/'__delete_tmp'/'__compact' sibling on disk):
# a bare '<target>__old' next to a not-yet-created target is otherwise
# indistinguishable from an unrelated user directory or manual backup,
# and claiming it as the table would silently merge into someone's data.
# Deleting '<target>__old' while the target lives is never done for the
# same reason. PARTITION-level legacy asides are never touched
# (col=abc__old is ambiguous with a real value; see the note in
# _recover_swap) — migrate those with a one-time manual rename.
_LEGACY_OLD_SUFFIX = "__old"

# Every tmp-directory suffix the swap protocol writes before renaming
# into place. A crash in the swap window (target renamed aside, tmp not
# yet renamed in) always leaves one of these on disk alongside the aside
# — their presence is the evidence _recover_swap requires before a
# legacy-suffix restore. Verified against every bare-'__old'-era release
# in git history (merge/delete from the start, compaction from the commit
# that added it): no pre-'%scio' protocol ever wrote a different tmp
# suffix, so this list is complete for legacy crash evidence.
_TMP_SUFFIXES = ("__merge_tmp", "__delete_tmp", "__compact")


def _recover_swap(spark: SparkSession, target_path: str) -> None:
    """Crash-retry guard for _swap_table/_swap_partitions: a crash between
    the rename-aside and the rename-into-place leaves the target (table or
    one partition directory) absent with its aside copy intact; a naive
    retry would then read a table missing history and silently drop it.
    Called on entry by every operation that reads the target — restores
    aside copies before anything looks at the path. An aside copy WITH a
    live sibling is the opposite (post-replace, pre-cleanup) crash: the
    live data is newer, so the aside is deleted."""
    jvm, tgt_path, fs = _fs(spark, target_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(tgt_path):
        old = HPath(target_path.rstrip("/") + _OLD_SUFFIX)
        if fs.exists(old):
            fs.rename(old, tgt_path)
            return
        # Legacy bare-'__old' restore only with evidence it IS a crashed
        # swap: the swap window (aside renamed, tmp not yet renamed in)
        # always leaves a tmp sibling on disk. Without one, a bare
        # '<target>__old' next to an absent target is more plausibly an
        # unrelated directory or manual backup — leave it alone.
        legacy = HPath(target_path.rstrip("/") + _LEGACY_OLD_SUFFIX)
        if fs.exists(legacy):
            if any(
                fs.exists(HPath(target_path.rstrip("/") + s))
                for s in _TMP_SUFFIXES
            ):
                fs.rename(legacy, tgt_path)
            else:
                # Not silently proceeding: the operator may be looking at
                # a crashed legacy swap whose tmp dir was cleaned by hand
                # — surface it so they can restore manually if so.
                import warnings

                warnings.warn(
                    f"_recover_swap: found {target_path}{_LEGACY_OLD_SUFFIX}"
                    f" next to an absent target but no"
                    f" {'/'.join(_TMP_SUFFIXES)} crash evidence — NOT"
                    f" restoring it (it may be an unrelated directory)."
                    f" If it is a crashed legacy swap whose tmp dir was"
                    f" removed, rename it to {target_path} manually.",
                    stacklevel=2,
                )
        return
    old = HPath(target_path.rstrip("/") + _OLD_SUFFIX)
    if fs.exists(old):
        # post-replace, pre-cleanup crash at TABLE level: live target is
        # the newer data, the aside copy is the leftover — drop it.
        # (Legacy-suffixed siblings are NOT deleted here: with the live
        # target present, '<target>__old' could be an unrelated real
        # directory — restore-only migration, see _LEGACY_OLD_SUFFIX.)
        fs.delete(old, True)
    for st in fs.listStatus(tgt_path):
        name = st.getPath().getName()
        if not name.endswith(_OLD_SUFFIX):
            # Legacy '__old' partition asides are NOT auto-recovered: at
            # directory level the name is genuinely ambiguous with a real
            # partition value ending in '__old' (col=abc__old), and
            # renaming a healthy one would corrupt it deterministically.
            # Migration from a pre-'%scio' crash is a one-time manual
            # rename (col=X__old -> col=X where col=X is absent).
            continue
        live = HPath(tgt_path, name[: -len(_OLD_SUFFIX)])
        if fs.exists(live):
            fs.delete(st.getPath(), True)
        else:
            fs.rename(st.getPath(), live)


def _swap_table(spark: SparkSession, tmp: str, target_path: str) -> None:
    """Whole-table swap that never leaves the target path empty-and-gone:
    rename the old table aside (target -> target+_OLD_SUFFIX), rename tmp
    into place, then delete the aside. A crash between any two steps
    leaves either the old table live or both tmp and the aside on disk —
    always recoverable (the former delete-then-rename left a window with
    NO live table)."""
    jvm, tgt_path, fs = _fs(spark, target_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    old = HPath(target_path.rstrip("/") + _OLD_SUFFIX)
    if fs.exists(old):
        fs.delete(old, True)
    had = fs.exists(tgt_path)
    if had:
        fs.rename(tgt_path, old)
    fs.rename(HPath(tmp), tgt_path)
    if had:
        fs.delete(old, True)


def _swap_partitions(spark: SparkSession, tmp: str, target: str, part_col: str):
    jvm, tmp_path, fs = _fs(spark, tmp)
    HPath = jvm.org.apache.hadoop.fs.Path
    tgt = HPath(target)
    if not fs.exists(tmp_path):
        return  # nothing produced (e.g. delete emptied every partition)
    if not fs.exists(tgt):
        fs.mkdirs(tgt)
    for st in fs.listStatus(tmp_path):
        name = st.getPath().getName()
        if not name.startswith(part_col + "="):
            continue
        # per-partition rename-aside (same no-gap protocol as _swap_table):
        # delete-then-rename would leave a crash window with the partition
        # on NEITHER path, and a retried merge would rebuild from a target
        # missing that partition's history
        dest = HPath(tgt, name)
        old = HPath(tgt, name + _OLD_SUFFIX)
        if fs.exists(old):
            fs.delete(old, True)
        had = fs.exists(dest)
        if had:
            fs.rename(dest, old)
        fs.rename(st.getPath(), dest)
        if had:
            fs.delete(old, True)
    fs.delete(tmp_path, True)


def merge_into(
    target_path: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """Upsert ``source`` into the parquet table at ``target_path``: target
    rows whose key matches a source row are replaced, unmatched source
    rows are inserted, everything else is untouched. With
    ``partition_col`` (a source/target column), only the partitions the
    source touches are read and rewritten. Source must contain every
    target column; the source's own rows win on key collisions inside the
    source (keep the latest upstream).

    Pruned-merge contract (the same one every partition-pruned MERGE
    carries): ``partition_col`` must be a stable function of the key — a
    key that "moves" partitions between target and source would leave its
    old row untouched in an unread partition. Partition values should be
    primitive ints/dates/simple strings (directory names use Spark's
    partition encoding)."""
    spark = source.sparkSession
    _recover_swap(spark, target_path)
    jvm, tgt_path, fs = _fs(spark, target_path)
    HPath = jvm.org.apache.hadoop.fs.Path

    if partition_col is None:
        exists = fs.exists(tgt_path)
        if exists:
            target = spark.read.parquet(target_path)
            keep = target.join(source.select(*keys).distinct(), keys, "left_anti")
            merged = source.unionByName(keep.select(*source.columns))
        else:
            merged = source
        tmp = target_path.rstrip("/") + "__merge_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_table(spark, tmp, target_path)
        return

    affected = _reject_null_partitions(
        [
            r[partition_col]
            for r in source.select(partition_col).distinct().collect()
        ],
        partition_col,
        "merge_into",
    )
    if not affected:
        return
    table_exists = bool(fs.globStatus(HPath(target_path, partition_col + "=*")))
    merged = source
    if table_exists:
        existing = _prune_to_partitions(
            spark.read.parquet(target_path), partition_col, affected
        )
        keep = existing.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = source.unionByName(keep.select(*source.columns))
    tmp = target_path.rstrip("/") + "__merge_tmp"
    tmp_hp = HPath(tmp)
    if fs.exists(tmp_hp):
        fs.delete(tmp_hp, True)
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    _swap_partitions(spark, tmp, target_path, partition_col)


def delete_where(
    spark: SparkSession,
    target_path: str,
    predicate: str,
    partition_col: str | None = None,
) -> None:
    """Delete rows matching ``predicate`` from the parquet table. With
    ``partition_col``, only partitions that contain matching rows are
    rewritten (found with one pruned aggregate); others are untouched."""
    _recover_swap(spark, target_path)
    jvm, tgt_path, fs = _fs(spark, target_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    target = spark.read.parquet(target_path)
    if partition_col is None:
        # IS NOT TRUE, not NOT(...): SQL DELETE removes only rows where
        # the predicate is TRUE — NOT(NULL) is NULL and a plain filter
        # would silently delete NULL-predicate rows (and disagree with
        # the pruned path below, which selects partitions via TRUE only)
        remaining = target.filter(f"({predicate}) IS NOT TRUE")
        tmp = target_path.rstrip("/") + "__delete_tmp"
        remaining.write.mode("overwrite").parquet(tmp)
        _swap_table(spark, tmp, target_path)
        return
    affected = _reject_null_partitions(
        [
            r[partition_col]
            for r in target.filter(predicate)
            .select(partition_col)
            .distinct()
            .collect()
        ],
        partition_col,
        "delete_where",
    )
    if not affected:
        return
    remaining = _prune_to_partitions(target, partition_col, affected).filter(
        f"({predicate}) IS NOT TRUE"
    )
    tmp = target_path.rstrip("/") + "__delete_tmp"
    tmp_hp = HPath(tmp)
    if fs.exists(tmp_hp):
        fs.delete(tmp_hp, True)
    (
        remaining.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    # a partition whose every row matched produces no tmp dir — it must be
    # DELETED from the target, not left stale; handle both cases
    jvm2, tmp_path2, fs2 = _fs(spark, tmp)
    produced = {
        st.getPath().getName()
        for st in fs2.listStatus(tmp_path2)
        if st.getPath().getName().startswith(partition_col + "=")
    } if fs2.exists(tmp_path2) else set()
    for v in affected:
        # derive the directory name with Spark's partition-value escaping,
        # so a fully-deleted partition whose value needs escaping is
        # actually found and removed (not left to resurface its rows)
        name = f"{partition_col}={_escape_part_value(v)}"
        if name not in produced:
            dead = HPath(tgt_path, name)
            if fs.exists(dead):
                fs.delete(dead, True)
    _swap_partitions(spark, tmp, target_path, partition_col)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    compare_cols: Sequence[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Diff two corpus/table snapshots by key: one row per id present in
    either side, labeled ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, any compare column differs), or ``unchanged`` —
    the audit step between MERGE runs (what did yesterday's crawl actually
    change?) and the input to incremental downstream recomputes (re-dedup /
    re-embed only ``added``+``changed``).

    ONE full-outer shuffle join on the id; rows never leave the cluster.
    Column comparison goes through an md5 over null-tagged concatenated
    values ('' vs NULL distinguished by a per-column marker), so arbitrary
    many columns compare as one 32-byte equality and the join payload
    stays (id, hash) regardless of row width. ``compare_cols=None``
    compares every non-id column shared by both sides."""
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c != id_col and c in set(new.columns)
        ]

    def content(df: DataFrame) -> Column:
        parts = []
        for c in compare_cols:
            s = F.col(c).cast("string")
            # length-prefixed encoding ("v<len>:<value>" / "null") is
            # prefix-decodable: a value CONTAINING the separator cannot
            # shift content across column boundaries (('x\x1fv:y','z') vs
            # ('x','y\x1fv:z') hash differently here)
            parts.append(
                F.coalesce(
                    F.concat(
                        F.lit("v"), F.length(s).cast("string"), F.lit(":"), s
                    ),
                    F.lit("null"),
                )
            )
        return F.md5(F.concat_ws("\x1f", *parts)) if parts else F.lit("")

    o = old.select(F.col(id_col), content(old).alias("__h_old"))
    n = new.select(F.col(id_col), content(new).alias("__h_new"))
    joined = o.join(n, id_col, "full_outer")
    return joined.select(
        id_col,
        F.when(F.col("__h_old").isNull(), "added")
        .when(F.col("__h_new").isNull(), "removed")
        .when(F.col("__h_old") == F.col("__h_new"), "unchanged")
        .otherwise("changed")
        .alias(status_col),
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance op every
    continuously-ingested parquet table needs: streaming/incremental
    writers accrete thousands of tiny files, and scan-task count (plus
    NameNode/liststatus pressure) grows with FILES, not bytes. Rewrite the
    table as ``ceil(total_bytes / target_file_bytes)`` files and swap it
    into place atomically.

    - file count is computed from the REAL on-disk byte size (Hadoop
      ``getContentSummary``), not row counts — compaction is a layout op;
    - a single-level hive-partitioned (``col=value``) layout is preserved,
      with each partition's file count sized from that partition's own
      bytes via a deterministic per-row salt — a huge partition splits
      toward ``target_file_bytes`` instead of collapsing to one oversized
      file (nested multi-level layouts raise: compact each level-1
      directory separately);
    - ``sort_by`` optionally re-sorts within output files (repartition +
      sortWithinPartitions), restoring min/max row-group pruning that
      interleaved ingests destroy;
    - the rewrite lands in ``path__compact`` and swaps via ``_swap_table``
      (rename-aside; crash-recoverable by ``_recover_swap``), so readers
      never observe a partial table.

    Returns the number of output files requested (for partitioned layouts:
    the sum of per-partition split counts). Content-preserving by
    construction (one repartition, no filters)."""
    # self-heal a crashed prior swap (target renamed aside, not yet
    # replaced) BEFORE sizing/reading the path — otherwise the next
    # compaction dies on the missing directory instead of recovering
    _recover_swap(spark, path)
    jvm, hpath, fs = _fs(spark, path)
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-int(total_bytes) // int(target_file_bytes)))
    df = spark.read.parquet(path)
    # PRESERVE a hive-partitioned layout: a flat rewrite of a col=X table
    # would destroy the directory structure merge_into/delete_where prune
    # on (their partition glob then finds nothing and the next pruned
    # merge corrupts the table). Partition columns are recovered from the
    # first level of col=value directory names.
    part_dirs = [
        st.getPath()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and "=" in st.getPath().getName()
    ]
    part_cols = sorted({p.getName().split("=", 1)[0] for p in part_dirs})
    if part_cols and any(
        st.isDirectory() and "=" in st.getPath().getName()
        for p in part_dirs
        for st in fs.listStatus(p)
    ):
        # only single-level hive layouts are supported: a flat
        # repartition over level-1 values would silently collapse the
        # level-2 directories merge_into/delete_where prune on
        raise ValueError(
            "compact_parquet supports single-level col=value partition "
            f"layouts; {path} is nested (multiple partition levels). "
            "Compact each level-1 partition directory separately."
        )
    if part_cols:
        # Cluster by partition value so each directory gets FEW files (a
        # value-blind repartition sprays every partition across all
        # tasks: tasks × partitions small files — the problem compaction
        # exists to fix) — but not ONE file regardless of size: a salt
        # column, sized per partition from its real on-disk bytes via a
        # broadcast-joined (value, n_splits) map, splits large partitions
        # toward target_file_bytes. The salt is a deterministic row hash
        # (rand() in a repartition key can lose/duplicate rows on task
        # retry), so re-runs produce the same layout.
        sizes = []
        for p in part_dirs:
            b = fs.getContentSummary(p).getLength()
            sizes.append(
                (
                    _unescape_part_dirname(p.getName().split("=", 1)[1]),
                    max(1, -(-int(b) // int(target_file_bytes))),
                )
            )
        n_files = sum(s for _, s in sizes)
        from pyspark.sql import types as T

        splits = spark.createDataFrame(
            sizes,
            T.StructType(
                [
                    T.StructField("__part_str", T.StringType()),
                    T.StructField("__n_splits", T.IntegerType()),
                ]
            ),
        )
        part_col = part_cols[0]
        data_cols = [c for c in df.columns if c != part_col]
        # Salt only over xxhash64-able columns: Spark rejects hashing
        # MapType (at any nesting depth) with an AnalysisException, and a
        # map column must not break compaction of a table that was
        # compactable before salting existed.
        hashable = [c for c in data_cols if _xxhashable(df.schema[c].dataType)]
        n_splits_col = F.coalesce("__n_splits", F.lit(1)).cast("bigint")
        if hashable:
            salt = F.pmod(F.xxhash64(*hashable), n_splits_col)
        else:
            # Degenerate case (no hashable non-partition columns, e.g.
            # map-only data columns): fall back to the HASHED input split
            # id. Deterministic for a fixed on-disk layout (Spark assigns
            # file splits to partitions deterministically), so retries of
            # the same compaction still produce the same layout, and a
            # huge partition — which spans many input splits at the sizes
            # where splitting matters — still splits toward
            # target_file_bytes instead of collapsing to one oversized
            # file. Hashed because raw split ids stride regularly (one
            # data-bearing split per file boundary), which pmod would
            # alias onto few salt values; granularity is per input split,
            # so a partition read as a single split stays one file.
            salt = F.pmod(F.xxhash64(F.spark_partition_id()), n_splits_col)
        # Join the per-partition split map on the TYPED partition value:
        # Spark's partition-type inference normalizes directory values
        # (dir 'col=01' reads back as int 1, which casts to string '1',
        # never '01'), so a string==string join can miss and silently
        # collapse that partition to one file. Casting the directory
        # string to the inferred type matches the same normalization.
        part_type = df.schema[part_col].dataType
        # Two directory names can normalize to the SAME typed value (e.g.
        # part=01 and part=1 both infer as int 1 under mixed writers) —
        # aggregate to one row per typed value, summing the split counts
        # (both directories' bytes belong to that logical partition), or
        # the left join below would duplicate every row of the partition.
        splits = (
            splits.withColumn("__part_val", F.col("__part_str").cast(part_type))
            .groupBy("__part_val")
            .agg(F.sum("__n_splits").cast("int").alias("__n_splits"))
        )
        out = (
            df.join(
                F.broadcast(splits),
                F.col(part_col).eqNullSafe(F.col("__part_val")),
                "left",
            )
            .withColumn("__salt", salt)
            .drop("__part_str", "__part_val", "__n_splits")
            .repartition(n_files, part_col, "__salt")
            .drop("__salt")
        )
        if sort_by:
            # lead any sort with the partition column so partitionBy
            # doesn't insert its own (stability-unspecified) sort
            out = out.sortWithinPartitions(part_col, *sort_by)
    else:
        out = df.repartition(n_files)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
    tmp = path.rstrip("/") + "__compact"
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(tmp_path):
        fs.delete(tmp_path, True)
    writer = out.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(tmp)
    _swap_table(spark, tmp, path)
    return n_files
