"""Enrichment & escape-hatch operators — scio's Python-logic surface.

Covers the SCollection syntax extensions that wrap imperative per-element
logic (SURVEY §2.1 tail). These are the *sanctioned slow paths*: everything
here runs Arrow-batched (mapInPandas) or per-partition (mapPartitions), never
row-at-a-time Python UDFs.

| scio | here | citation |
|---|---|---|
| side inputs (asSingletonSideInput, asMapSideInput, ...) | ``side_input_*`` broadcasts | values/SideInput.scala:31-125 |
| SideOutput / multi-output ParDo | ``partition_by_pred`` (collection.py) + ``safe_flat_map`` error channel | values/SideOutput.scala |
| safeFlatMap (errors → (input, error) side output) | ``safe_map_partitions`` | transforms/syntax/SCollectionSafeSyntax.scala:46 |
| pipe (subprocess per element) | ``pipe`` (rdd.pipe) | transforms/syntax/SCollectionPipeSyntax.scala:45,71 |
| mapWithResource (per-worker setup) | ``map_with_resource`` | transforms/syntax/SCollectionWithResourceSyntax.scala:37-64 |
| map/flatMapWithParallelism | ``map_with_parallelism`` | SCollectionParallelismSyntax.scala:43-71, util/ParallelLimitedFn.scala |
| ScalaAsyncLookupDoFn / ScalaAsyncBatchLookupDoFn / grpc lookups | ``async_lookup`` | transforms/ScalaAsyncLookupDoFn.scala; scio-grpc SCollectionSyntax.scala:38-151 |
| DistCache (per-worker files) | ``dist_cache`` | values/DistCache.scala:1-100 |
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------- side inputs


#: side inputs are DRIVER-SIZED BY CONTRACT (Beam materializes them per
#: worker; scio's asMapSideInput has the same ceiling). The guard makes an
#: oversized build fail actionably instead of OOMing the driver — the same
#: require_side_input_sized pattern the ANN corpus/query collects use.
SIDE_INPUT_MAX_ROWS = 4_000_000

#: Byte budget companion to the row cap: a wide-row side input (long
#: documents, fat embeddings) can bloat the driver while staying under the
#: row count, so the guard also sums approximate serialized bytes
#: (retrieval.SIDE_INPUT_MAX_BYTES, 2 GiB default).
SIDE_INPUT_MAX_BYTES = None  # None -> retrieval module default


def _guard_side_input(
    df: DataFrame, what: str, max_rows: int, max_bytes=SIDE_INPUT_MAX_BYTES
) -> None:
    from scio_spark.functions import retrieval

    if max_bytes is None:
        max_bytes = retrieval.SIDE_INPUT_MAX_BYTES
    retrieval.require_side_input_sized(df, max_rows, what, "max_rows", max_bytes=max_bytes)


def side_input_singleton(df: DataFrame):
    """asSingletonSideInput (SideInput.scala:100): exactly-one-row DataFrame
    → broadcast python value."""
    rows = df.limit(2).collect()  # bounded: never collects a huge input
    if len(rows) != 1:
        raise ValueError(
            "singleton side input has "
            + ("no rows" if not rows else ">1 rows")
        )
    val = rows[0][0] if len(rows[0]) == 1 else rows[0].asDict()
    return df.sparkSession.sparkContext.broadcast(val)


def side_input_list(
    df: DataFrame, max_rows: int = SIDE_INPUT_MAX_ROWS, max_bytes=None
):
    """asListSideInput (:105)."""
    _guard_side_input(df, "side_input_list", max_rows, max_bytes)
    rows = [r[0] if len(r) == 1 else tuple(r) for r in df.collect()]
    return df.sparkSession.sparkContext.broadcast(rows)


def side_input_set(
    df: DataFrame, max_rows: int = SIDE_INPUT_MAX_ROWS, max_bytes=None
):
    """asSetSingletonSideInput (SideInput.scala:110): the collection as ONE
    broadcast python set — the membership-test side input (hashFilter's
    substrate when the predicate runs inside a pandas fn)."""
    _guard_side_input(df, "side_input_set", max_rows, max_bytes)
    rows = {r[0] if len(r) == 1 else tuple(r) for r in df.collect()}
    return df.sparkSession.sparkContext.broadcast(rows)


def side_input_map(
    df: DataFrame, key_col: str, value_col: str,
    max_rows: int = SIDE_INPUT_MAX_ROWS, max_bytes=None,
):
    """asMapSideInput (:117) — unique keys."""
    _guard_side_input(df, "side_input_map", max_rows, max_bytes)
    m = {}
    for r in df.select(key_col, value_col).collect():
        if r[0] in m:
            raise ValueError(f"duplicate key in map side input: {r[0]}")
        m[r[0]] = r[1]
    return df.sparkSession.sparkContext.broadcast(m)


def side_input_multimap(
    df: DataFrame, key_col: str, value_col: str,
    max_rows: int = SIDE_INPUT_MAX_ROWS, max_bytes=None,
):
    """asMultiMapSideInput (:123) — the hashJoin substrate
    (PairHashSCollectionFunctions.scala:62-73)."""
    _guard_side_input(df, "side_input_multimap", max_rows, max_bytes)
    m: dict[Any, list] = {}
    for r in df.select(key_col, value_col).collect():
        m.setdefault(r[0], []).append(r[1])
    return df.sparkSession.sparkContext.broadcast(m)


def with_side_input(df: DataFrame, broadcast_var, fn: Callable, schema) -> DataFrame:
    """SCollectionWithSideInput analog: ``fn(pdf, side_value) -> pdf`` over
    Arrow batches with the broadcast side value in scope."""

    def gen(batches: Iterator):
        side = broadcast_var.value
        for pdf in batches:
            yield fn(pdf, side)

    return df.mapInPandas(gen, schema)


def side_outputs(df: DataFrame, conditions: dict) -> dict:
    """SideOutput / SCollectionWithSideOutput (values/SideOutput.scala:1-89):
    one logical pass fanned into N tagged outputs. Beam does this in a single
    multi-output ParDo; Spark caches the parent and filters per tag
    (SURVEY §4.4.3 — the documented cost is one cached scan).

    ``conditions``: tag → Column/SQL predicate. Rows matching several
    conditions land in several outputs (same as emitting to several tags)."""
    cached = df.cache()
    out = {}
    for tag, cond in conditions.items():
        pred = cond if isinstance(cond, Column) else F.expr(cond)
        out[tag] = cached.filter(pred)
    return out


def read_files(spark, paths, fmt: str = "text") -> DataFrame:
    """readFiles / readTextFiles / readFilesAsBytes (SCollection.scala:
    1372-1503, values/FileSCollectionFunctions.scala): an SCollection of
    file paths → their contents, with per-row provenance.

    ``paths``: list of path strings or a single-column DataFrame of paths
    (collected — file lists are driver-sized). fmt: 'text' (one row per
    line) or 'binary' (one row per file via the binaryFile source)."""
    if isinstance(paths, DataFrame):
        paths = [r[0] for r in paths.collect()]
    paths = list(paths)
    if fmt == "binary":
        return spark.read.format("binaryFile").load(paths)
    df = spark.read.text(paths)
    return df.select(F.input_file_name().alias("path"), "value")


# ------------------------------------------------------- safe / error channel


def safe_map_partitions(df: DataFrame, fn: Callable, ok_schema) -> tuple[DataFrame, DataFrame]:
    """safeFlatMap (SCollectionSafeSyntax.scala:46): apply ``fn(row_dict) ->
    dict`` per element; failures land in an error channel of
    (input_json, error) instead of failing the job.

    Returns (ok, errors). Implemented as one Arrow-batched pass emitting a
    status column, then two filters off a cached intermediate (Beam's
    multi-output ParDo is one pass; Spark needs the cache — SURVEY §4.4.3)."""
    import json

    import pandas as pd

    ok_fields = [f.strip().split(" ")[0] for f in ok_schema.split(",")]
    full_schema = ok_schema + ", __error string, __input string"

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            out_rows = []
            for rec in pdf.to_dict("records"):
                try:
                    res = fn(rec)
                    res = {**{k: None for k in ok_fields}, **res}
                    res["__error"] = None
                    res["__input"] = None
                    out_rows.append(res)
                except Exception as e:  # noqa: BLE001 — the whole point
                    out_rows.append(
                        {
                            **{k: None for k in ok_fields},
                            "__error": f"{type(e).__name__}: {e}",
                            "__input": json.dumps(rec, default=str),
                        }
                    )
            yield pd.DataFrame(out_rows)

    tagged = df.mapInPandas(gen, full_schema).cache()
    ok = tagged.filter(F.col("__error").isNull()).drop("__error", "__input")
    errors = tagged.filter(F.col("__error").isNotNull()).select(
        F.col("__input").alias("input"), F.col("__error").alias("error")
    )
    return ok, errors


# ------------------------------------------------------------------ pipe


def pipe(df: DataFrame, command: str, input_col: str = "value") -> DataFrame:
    """pipe (SCollectionPipeSyntax.scala:45,71): element per stdin line through
    a subprocess; stdout lines become the output collection.

    One subprocess per Arrow batch (≈ a Beam bundle), fed via
    ``subprocess.run`` — single-threaded write-then-read, so no feeder
    thread races the Arrow protocol stream (the rdd.pipe path crashed its
    feeder with ``ValueError: read length must be non-negative or -1``).
    Non-zero exit raises with the subprocess stderr attached."""
    import shlex
    import subprocess

    import pandas as pd

    argv = shlex.split(command)

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            data = "".join(s + "\n" for s in pdf[input_col].astype(str))
            res = subprocess.run(  # noqa: S603 — user-supplied command is the op
                argv, input=data, capture_output=True, text=True
            )
            if res.returncode != 0:
                raise RuntimeError(
                    f"pipe command {command!r} exited {res.returncode}: "
                    f"{res.stderr[-500:]}"
                )
            yield pd.DataFrame({input_col: res.stdout.splitlines()})

    return (
        df.select(F.col(input_col).cast("string").alias(input_col))
        .mapInPandas(gen, f"{input_col} string")
    )


# ------------------------------------------------------------- resources


def map_with_resource(
    df: DataFrame,
    create_resource: Callable[[], Any],
    fn: Callable,
    schema,
    close_resource: Callable[[Any], None] | None = None,
) -> DataFrame:
    """mapWithResource (SCollectionWithResourceSyntax.scala:37-64): resource
    created once per partition/task (e.g. a client, a model), applied to
    Arrow batches, optionally closed."""

    def gen(batches: Iterator):
        res = create_resource()
        try:
            for pdf in batches:
                yield fn(res, pdf)
        finally:
            if close_resource is not None:
                close_resource(res)

    return df.mapInPandas(gen, schema)


def map_with_parallelism(
    df: DataFrame, fn: Callable, schema, max_parallelism: int
) -> DataFrame:
    """mapWithParallelism (SCollectionParallelismSyntax.scala:43, util/
    ParallelLimitedFn.scala): run ``fn`` over Arrow batches with a bounded
    thread pool of ``max_parallelism`` workers inside each task — both
    providing concurrency for blocking I/O-bound fns and capping in-flight
    calls. The cap is per task (a driver-side semaphore would be pickled
    per task and never contend); across an executor the ceiling is
    task_slots × max_parallelism — size accordingly for rate-limited
    services. Results are yielded in input order.

    Also covers flatMap/filter/collectWithParallelism
    (SCollectionParallelismSyntax.scala:43-71): ``fn`` returns a pandas
    frame of ANY row count, so emitting extra rows (flatMap) or a subset
    (filter/collect) needs no separate operator."""
    from concurrent.futures import ThreadPoolExecutor

    def gen(batches: Iterator):
        with ThreadPoolExecutor(max_workers=max_parallelism) as ex:
            pending: list = []
            for pdf in batches:
                pending.append(ex.submit(fn, pdf))
                while len(pending) >= max_parallelism:
                    yield pending.pop(0).result()
            for fut in pending:
                yield fut.result()

    return df.mapInPandas(gen, schema)


# ---------------------------------------------------------------- async


def async_lookup(
    df: DataFrame,
    lookup_fn: Callable,
    schema,
    batch_size: int = 64,
    max_concurrency: int = 16,
) -> DataFrame:
    """Async batched lookup (ScalaAsyncBatchLookupDoFn / grpcBatchLookup
    analog): ``lookup_fn`` is an async callable taking a list of row dicts
    and returning a list of result dicts; executed with asyncio.gather under
    a concurrency cap, Arrow batch in/out."""
    import asyncio

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]):
        async def run_batch(pdf: pd.DataFrame) -> pd.DataFrame:
            sem = asyncio.Semaphore(max_concurrency)
            recs = pdf.to_dict("records")
            chunks = [recs[i : i + batch_size] for i in range(0, len(recs), batch_size)]

            async def call(chunk):
                async with sem:
                    return await lookup_fn(chunk)

            results = await asyncio.gather(*[call(c) for c in chunks])
            flat = [r for chunk in results for r in chunk]
            return pd.DataFrame(flat)

        for pdf in batches:
            yield asyncio.run(run_batch(pdf))

    return df.mapInPandas(gen, schema)


def map_file(
    df: DataFrame,
    uri_col: str,
    fn: Callable,
    schema,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """mapFile / flatMapFile (SCollectionFileDownloadSyntax.scala:43,66):
    download each row's URI to a worker-local temp file, apply
    ``fn(local_path) -> dict``, emit with the kept columns.

    urllib handles file:// and http(s):// (fsspec would widen the scheme set
    — not in this image). Downloads happen per Arrow batch on the executor,
    cleaned up after fn returns."""
    import os
    import tempfile
    import urllib.request

    keep = keep_cols or [uri_col]

    def gen(batches: Iterator):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                uri = rec[uri_col]
                suffix = os.path.splitext(uri)[1]
                with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as tmp:
                    local = tmp.name
                try:
                    urllib.request.urlretrieve(uri, local)
                    out = fn(local)
                    rows.append({**{k: rec[k] for k in keep}, **out})
                finally:
                    os.unlink(local)
            yield pd.DataFrame(rows)

    return df.mapInPandas(gen, schema)


# -------------------------------------------------------------- dist cache


def dist_cache(spark, path: str) -> Callable[[], str]:
    """DistCache (values/DistCache.scala): distribute a file to every worker;
    returns a thunk resolving to the worker-local path (SparkFiles)."""
    spark.sparkContext.addFile(path)
    import os

    name = os.path.basename(path)

    def get() -> str:
        from pyspark import SparkFiles

        return SparkFiles.get(name)

    return get
