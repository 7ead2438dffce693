"""Every bucketed index writer goes through ``smb.save_sorted_bucket`` and
so survives a stale warehouse location: a ``<warehouse>/<table>`` dir left
by a previous session without a catalog entry. ``saveAsTable`` alone
refuses such a location with LOCATION_ALREADY_EXISTS."""

import os
import shutil
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from scio_spark.functions import dedup as D
from scio_spark.functions import similarity as S
from scio_spark.functions import substr_dedup as SD
from scio_spark.operators import smb
from tests.conftest import rows

EMB = dict(bands=2, band_bits=2, dim=2)

# name: (write(docs, vecs, table), rows the table must hold)
WRITERS = {
    "stage_shingles": (
        lambda d, v, t: D.stage_shingles(d, t, buckets=2),
        lambda d, v: D.shingles(d),
    ),
    "stage_minhash_index": (
        lambda d, v, t: D.stage_minhash_index(d, t, buckets=2),
        lambda d, v: D.minhash_bands(D.minhash_signature(D.shingles(d))),
    ),
    "stage_embedding_lsh_index": (
        lambda d, v, t: S.stage_embedding_lsh_index(v, t, buckets=2, **EMB),
        lambda d, v: S.band_signatures(v, **EMB),
    ),
    "stage_gram_index": (
        lambda d, v, t: SD.stage_gram_index(d, t, n=3, num_buckets=2),
        lambda d, v: SD._first_occurrences(
            SD._positional_ngrams(d, "doc_id", "text", 3, True)
        ),
    ),
    "save_sorted_bucket": (
        lambda d, v, t: smb.save_sorted_bucket(d, t, "doc_id", 2),
        lambda d, v: d,
    ),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_index_writer_replaces_stale_warehouse_location(spark, writer):
    write, expected = WRITERS[writer]
    docs = spark.createDataFrame(
        [(i, f"doc {i % 2} the quick brown fox jumps") for i in range(4)],
        ["doc_id", "text"],
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, i / 4]) for i in range(4)], ["vec_id", "embedding"]
    )
    table = f"t_stale_{writer}_{uuid.uuid4().hex[:8]}"
    stale = os.path.join(
        urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, table
    )
    os.makedirs(stale)
    pq.write_table(pa.table({"x": [1]}), os.path.join(stale, "part-0.parquet"))
    try:
        write(docs, vecs, table)
        want = expected(docs, vecs)
        assert rows(spark.table(table).select(*want.columns)) == rows(want)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(stale, ignore_errors=True)
