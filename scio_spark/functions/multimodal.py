"""Multimodal columns — image/audio/video as opaque binary + typed metadata.

Design (BASELINE.json north star; no direct scio analog — scio stops at
``binaryFile``/TFRecord): a multimodal table is

    asset_id: long, modality: string, content: binary,
    meta: struct<mime: string, width: int, height: int,
                 sample_rate: int, duration_ms: long>

Codec policy, two tiers:
- UNCOMPRESSED formats (PPM/PGM, 24-bit BMP, WAV-PCM, RIFF-AVI video
  with DIB frames) have REAL decoders, feature extraction, resize,
  audio segmentation, and video frame sampling in
  ``functions/codecs.py`` — pure numpy/stdlib, golden-byte tested, and
  value-checked end-to-end by the image/audio/video_decode contract
  queries.
- PNG also has a REAL decoder/encoder in ``functions/codecs.py`` — its
  compression is stdlib zlib, so no media library is needed (chunk
  framing, CRCs, and all five scanline filters implemented and tested
  against independently hand-assembled bytes).
- JPEG has a REAL pure-Python codec too (``functions/jpeg.py`` — ITU
  T.81 Huffman+DCT: baseline, progressive SOF2, and 12-bit
  extended-sequential SOF1, no library needed), as do FLAC
  (``functions/flac.py``, lossless) and G.711/IMA-ADPCM WAV
  (``functions/audio.py``), plus an MP3 frame-walk metadata probe.
- The remaining COMPRESSED formats (MP3 SAMPLE decode, compressed
  video codecs beyond Motion-JPEG AVI, arithmetic JPEG) stay gated:
  they are either media-library work this container doesn't ship or —
  for arithmetic JPEG — unverifiable here against any independent
  implementation (SCALING.md round-12 notes). With the libs absent
  they run a deterministic fake (tested) or raise NotImplementedError
  (strict mode).

Scale notes: binary payloads dominate row size — the helpers repartition by
byte budget, not row count (maxPartitionBytes analog for in-flight data), and
feature extraction runs in mapInPandas so payload bytes cross the Python
boundary once per batch, Arrow-packed.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MULTIMODAL_SCHEMA = (
    "asset_id long, modality string, content binary, "
    "meta struct<mime: string, width: int, height: int, "
    "sample_rate: int, duration_ms: long>"
)

try:  # pragma: no cover - not in this image
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


def content_stats(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap JVM-side facts about the payload (no decode, no Python):
    byte length + digest for exact-dup detection of assets."""
    return df.withColumn("n_bytes", F.length(F.col(content_col))).withColumn(
        "digest", F.sha2(F.col(content_col), 256)
    )


def _fake_image_features(content: bytes) -> dict:
    """Deterministic stand-in for a real decoder: derives pseudo-features
    from a sha256 of the bytes. Replaces PIL in this container; the Spark
    plumbing (batching, schema) is identical either way."""
    h = hashlib.sha256(content or b"").digest()
    return {
        "width": 64 + h[0],
        "height": 64 + h[1],
        "mean_luma": h[2] / 255.0,
    }


def decode_image_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "asset_id",
    strict: bool = False,
) -> DataFrame:
    """Image decode → features over mapInPandas (Arrow-batched, one Python
    crossing). Formats this repo decodes for real (PPM/PGM/BMP/PNG/GIF/
    baseline JPEG — functions/codecs.py + functions/jpeg.py) go through
    the real decoders; only payloads those can't identify fall to PIL
    (if present), then to the deterministic fake decoder — strict mode
    raises instead of faking. The ``decoder`` column says which tier
    handled each row."""
    schema = f"{id_col} long, width int, height int, mean_luma double, decoder string"
    use_pil = HAS_PIL

    def gen(batches: Iterator):
        import struct as _struct

        import pandas as pd

        from scio_spark.functions import codecs as _C

        for pdf in batches:
            rows = []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                b = bytes(content) if content is not None else b""
                kind = _C.sniff(b)
                arr = None
                if kind in ("ppm", "bmp", "png", "gif", "jpeg"):
                    try:
                        if kind == "ppm":
                            arr = _C.decode_ppm(b)
                        elif kind == "bmp":
                            arr = _C.decode_bmp(b)
                        elif kind == "png":
                            arr = _C.decode_png(b)
                        elif kind == "gif":
                            arr = _C.decode_gif(b)
                        else:
                            from scio_spark.functions.jpeg import decode_jpeg

                            arr = decode_jpeg(b)
                    except (ValueError, _struct.error):
                        arr = None
                if arr is not None:
                    h, w = arr.shape[:2]
                    feats = {
                        "width": w,
                        "height": h,
                        "mean_luma": float(arr.mean()) / 255.0,
                    }
                    dec = kind
                elif use_pil:  # pragma: no cover — PIL not in this image
                    import io

                    from PIL import Image as _I

                    img = _I.open(io.BytesIO(b))
                    feats = {
                        "width": img.width,
                        "height": img.height,
                        "mean_luma": 0.0,
                    }
                    dec = "pil"
                elif strict:
                    raise NotImplementedError(
                        "image format not decodable by the built-in "
                        "PPM/BMP/PNG/GIF/JPEG codecs and PIL/pillow is not in "
                        "this container; use strict=False for the "
                        "deterministic fake decoder"
                    )
                else:
                    feats = _fake_image_features(b)
                    dec = "fake"
                rows.append({id_col: aid, **feats, "decoder": dec})
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    duration_col: str = "meta.duration_ms",
    id_col: str = "asset_id",
) -> DataFrame:
    """Video frame-sampling *plan*: one row per (asset, frame_ts_ms) — the
    shuffle-level work of frame extraction, with the ffmpeg decode stubbed at
    the edge. JVM-side sequence/explode, no Python."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col(duration_col) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


def _asset_rows(n: int, seed: int):
    """Deterministic fixture rows. Payload bytes are the ASCII hex digest of
    sha256(seed:asset_id) repeated — arbitrary-looking but ASCII-safe, so an
    independent engine (DuckDB, whose sha256() takes VARCHAR) can hash the
    identical bytes for oracle comparison. The column is still a real
    ``binary`` column; the Spark plumbing is byte-oriented either way."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest().encode() * (
            4 + i % 13
        )
        rows.append(
            {
                "asset_id": i,
                "modality": ["image", "audio", "video"][i % 3],
                "content": payload,
                "meta": {
                    "mime": "application/octet-stream",
                    "width": None,
                    "height": None,
                    "sample_rate": 16000 if i % 3 == 1 else None,
                    "duration_ms": 4000 + 250 * i if i % 3 == 2 else None,
                },
            }
        )
    return rows


def synthetic_assets(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic binary fixture (no external data needed)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(_asset_rows(n, seed)), MULTIMODAL_SCHEMA)


def write_asset_fixture(path: str, n: int = 64, seed: int = 7) -> str:
    """Write the deterministic asset fixture as a SINGLE parquet file (via
    pyarrow, not a Spark directory write) so a second engine can read the
    exact same bytes for oracle verification. Idempotent: skips the write if
    the file already exists (the rows are deterministic in (n, seed))."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    rows = _asset_rows(n, seed)
    meta_t = pa.struct(
        [
            ("mime", pa.string()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("sample_rate", pa.int32()),
            ("duration_ms", pa.int64()),
        ]
    )
    table = pa.table(
        {
            "asset_id": pa.array([r["asset_id"] for r in rows], pa.int64()),
            "modality": pa.array([r["modality"] for r in rows], pa.string()),
            "content": pa.array([r["content"] for r in rows], pa.binary()),
            "meta": pa.array([r["meta"] for r in rows], meta_t),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path
