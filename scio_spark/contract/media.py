"""Media codec contract queries: the multimodal fixture pipeline and the
image, audio and video decode / probe queries over synthetic assets."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scio_spark.contract._common import _asset_base


MULTIMODAL_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "examples", "fixtures", "multimodal_assets.parquet",
)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end on the deterministic binary fixture,
    now read from a committed single-file parquet so DuckDB can read the SAME
    bytes: content stats (JVM sha2/length) + stubbed image decode
    (mapInPandas fake decoder = sha256-derived features, reproduced in the
    oracle SQL from the identical hex preimage)."""
    from scio_spark.functions import multimodal as M

    M.write_asset_fixture(MULTIMODAL_FIXTURE, n=64)
    assets = spark.read.parquet(MULTIMODAL_FIXTURE)
    stats = M.content_stats(assets)
    feats = M.decode_image_features(assets.filter("modality = 'image'"))
    return (
        stats.select(
            "asset_id", "modality", F.col("n_bytes").cast("long").alias("n_bytes"),
            "digest",
        )
        .join(feats.select("asset_id", "width", "height", "decoder"), "asset_id", "left")
        .orderBy("asset_id")
    )


ORACLE_MULTIMODAL_FEATURES = f"""
WITH assets AS (
  SELECT * FROM read_parquet('{MULTIMODAL_FIXTURE}')
), feats AS (
  SELECT asset_id,
         64 + ('0x' || substr(sha256(CAST(content AS VARCHAR)), 1, 2))::INT AS width,
         64 + ('0x' || substr(sha256(CAST(content AS VARCHAR)), 3, 2))::INT AS height,
         'fake' AS decoder
  FROM assets WHERE modality = 'image'
)
SELECT a.asset_id, a.modality,
       octet_length(a.content)::BIGINT AS n_bytes,
       sha256(CAST(a.content AS VARCHAR)) AS digest,
       f.width, f.height, f.decoder
FROM assets a LEFT JOIN feats f USING (asset_id)
"""


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-checked (functions/codecs.py): solid-fill
    PPM assets are generated deterministically from asset_id arithmetic
    (dims/fill are pure functions of the id), encoded to actual P6 bytes
    executor-side, then decoded back by the real parser and feature-
    extracted. DuckDB cannot decode PPM — it doesn't have to: the oracle
    computes the expected width/height/mean analytically from the same
    arithmetic over range(n), so any decode defect (stride, header,
    channel order) breaks the value hash. Closes the 'multimodal decode is
    take-my-word-for-it' gap for the uncompressed tier."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import encode_ppm, image_features

    base = _asset_base(spark, 64)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                h = 8 + (int(aid) % 5) * 4
                w = 16 + (int(aid) % 7) * 2
                fill = int(aid) % 256
                img = np.full((h, w, 3), fill, dtype=np.uint8)
                rows.append({"asset_id": int(aid), "content": encode_ppm(img)})
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")
    return image_features(assets).select(
        "asset_id", "width", "height", "channels", "mean_intensity", "std_intensity"
    )


ORACLE_IMAGE_DECODE = """
SELECT i AS asset_id,
       CAST(16 + (i % 7) * 2 AS INT) AS width,
       CAST(8 + (i % 5) * 4 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(i % 256 AS DOUBLE) AS mean_intensity,
       CAST(0.0 AS DOUBLE) AS std_intensity
FROM range(0, 64) t(i)
"""


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, value-checked (functions/codecs.py — the one
    COMPRESSED image format whose compression is stdlib zlib, so it gets
    a real codec instead of an import gate): deterministic GRADIENT
    assets (pixel v(y,x,c) = (y*31+x*7+c*85+id) % 256) are encoded
    executor-side with the full scanline-filter cycle (None/Sub/Up/
    Average/Paeth — every decode filter path runs per asset), zlib-
    compressed, decoded back, and reduced to integer stats including a
    POSITION-WEIGHTED digest — unlike a mean, any stride/transpose/
    channel-order defect permutes pixel positions and breaks the digest.
    DuckDB replays the same pixel arithmetic over a bounded range cross
    product; all sums are exact integer math in both engines."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import decode_png, encode_png

    base = _asset_base(spark, 48)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                h = 5 + i % 4 * 3
                w = 7 + i % 5 * 2
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                img = ((y * 31 + x * 7 + c * 85 + i) % 256).astype(np.uint8)
                arr = decode_png(encode_png(img, filter_cycle=(0, 1, 2, 3, 4)))
                hh, ww, cc = arr.shape
                v = arr.astype(np.int64)
                wgt = (
                    np.arange(hh)[:, None, None] * ww * 3
                    + np.arange(ww)[None, :, None] * 3
                    + np.arange(cc)[None, None, :]
                    + 1
                )
                rows.append(
                    {
                        "asset_id": i, "width": ww, "height": hh,
                        "channels": cc, "pix_sum": int(v.sum()),
                        "pos_digest": int((v * wgt).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, channels int, "
        "pix_sum long, pos_digest long",
    )


ORACLE_PNG_DECODE = """
WITH a AS (SELECT i AS asset_id, 5 + (i % 4) * 3 AS h, 7 + (i % 5) * 2 AS w
           FROM range(0, 48) t(i)),
px AS (
  SELECT a.asset_id, a.h, a.w, ry.y, rx.x, rc.c,
         (ry.y*31 + rx.x*7 + rc.c*85 + a.asset_id) % 256 AS v
  FROM a, range(0, 17) ry(y), range(0, 15) rx(x), range(0, 3) rc(c)
  WHERE ry.y < a.h AND rx.x < a.w)
SELECT asset_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * (y*w*3 + x*3 + c + 1)) AS BIGINT) AS pos_digest
FROM px GROUP BY asset_id
"""


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, value-checked (functions/jpeg.py —
    pure-Python T.81 Huffman+DCT codec): flat-fill RGB assets from
    asset_id arithmetic are JPEG-encoded at q90 executor-side and decoded
    back. A flat block is DC-only, and at q90 the quantization error is
    ≤ Q00/16 = 3/16 < 0.5, so the lossy roundtrip lands EXACTLY on the
    input fills (empirically verified for all 48 fills; worst rounding
    margin 0.10 — 14 orders above float error). The oracle just replays
    the fill arithmetic: any defect in marker framing, Huffman tables,
    DC prediction, dequantization, IDCT, or the YCbCr inverse shifts a
    value and breaks the hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.jpeg import decode_jpeg, encode_jpeg

    base = _asset_base(spark, 48)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                r, g, b = (i * 37) % 256, (i * 59 + 11) % 256, (i * 83 + 29) % 256
                img = np.dstack(
                    [np.full((16, 16), v, np.uint8) for v in (r, g, b)]
                )
                out = decode_jpeg(encode_jpeg(img, 90))
                hh, ww, cc = out.shape
                rows.append(
                    {
                        "asset_id": i, "width": ww, "height": hh,
                        "channels": cc,
                        "uniform": bool((out == out[0, 0]).all()),
                        "r": int(out[0, 0, 0]), "g": int(out[0, 0, 1]),
                        "b": int(out[0, 0, 2]),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, channels int, "
        "uniform boolean, r int, g int, b int",
    )


ORACLE_JPEG_DECODE = """
SELECT i AS asset_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(3 AS INT) AS channels, TRUE AS uniform,
       CAST((i * 37) % 256 AS INT) AS r,
       CAST((i * 59 + 11) % 256 AS INT) AS g,
       CAST((i * 83 + 29) % 256 AS INT) AS b
FROM range(0, 48) t(i)
"""


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode (SOF2; T.81 Annex G spectral
    selection + successive approximation — functions/jpeg.py). Two
    value-checked layers per asset: (a) a flat fill encoded with
    encode_jpeg_progressive at q90 decodes EXACTLY back to the fill
    (DC-only blocks; quantization error < 0.5, same argument as
    jpeg_decode), so DC first/refine scans, band headers, and the
    multi-scan coefficient accumulation are hash-pinned; (b) an
    id-derived gradient must decode pixel-identically through the
    progressive and baseline streams of the SAME image — any defect in
    AC band scans, EOBRUN, or refinement correction bits flips
    prog_eq_base. The oracle replays the fill arithmetic and expects
    prog_eq_base = TRUE."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                r, g, b = (i * 41) % 256, (i * 67 + 13) % 256, (i * 89 + 31) % 256
                img = np.dstack(
                    [np.full((16, 16), v, np.uint8) for v in (r, g, b)]
                )
                out = decode_jpeg(encode_jpeg_progressive(img, 90))
                y, x = np.mgrid[0:16, 0:24]
                grad = np.dstack(
                    [
                        (y * (3 + i % 5) + x * (2 + i % 7) + i) % 256,
                        (x * 5 + i * 3) % 256,
                        (y * 7 + i * 11) % 256,
                    ]
                ).astype(np.uint8)
                q = (50, 85, 95)[i % 3]
                eq = bool(
                    (
                        decode_jpeg(encode_jpeg_progressive(grad, q))
                        == decode_jpeg(encode_jpeg(grad, q))
                    ).all()
                )
                rows.append(
                    {
                        "asset_id": i,
                        "width": int(out.shape[1]),
                        "height": int(out.shape[0]),
                        "uniform": bool((out == out[0, 0]).all()),
                        "r": int(out[0, 0, 0]),
                        "g": int(out[0, 0, 1]),
                        "b": int(out[0, 0, 2]),
                        "prog_eq_base": eq,
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, uniform boolean, "
        "r int, g int, b int, prog_eq_base boolean",
    )


ORACLE_JPEG_PROGRESSIVE = """
SELECT i AS asset_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       TRUE AS uniform,
       CAST((i * 41) % 256 AS INT) AS r,
       CAST((i * 67 + 13) % 256 AS INT) AS g,
       CAST((i * 89 + 31) % 256 AS INT) AS b,
       TRUE AS prog_eq_base
FROM range(0, 40) t(i)
"""


def q_jpeg12_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 12-bit extended-sequential JPEG (SOF1, Pq=1 16-bit DQT —
    functions/jpeg.py encode_jpeg12/decode_jpeg): per asset a flat
    12-bit gray fill v = (i * 997 + 13) % 4096 is encoded at q95
    (unscaled Annex K tables keep the DC quantization error below the
    rounding margin, so the lossy roundtrip lands EXACTLY on the fill)
    and decoded back to uint16. The oracle replays the fill arithmetic;
    any defect in the 16-bit DQT parse, the widened Huffman categories,
    the 2048 level shift, or the uint16 clamp shifts a value and breaks
    the hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.jpeg import decode_jpeg, encode_jpeg12

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                v = (i * 997 + 13) % 4096
                img = np.full((16, 16), v, np.uint16)
                out = decode_jpeg(encode_jpeg12(img, 95))
                rows.append(
                    {
                        "asset_id": i,
                        "width": int(out.shape[1]),
                        "height": int(out.shape[0]),
                        "is_uint16": out.dtype == np.uint16,
                        "uniform": bool((out == out[0, 0]).all()),
                        "value": int(out[0, 0]),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, is_uint16 boolean, "
        "uniform boolean, value int",
    )


ORACLE_JPEG12_DECODE = """
SELECT i AS asset_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       TRUE AS is_uint16, TRUE AS uniform,
       CAST((i * 997 + 13) % 4096 AS INT) AS value
FROM range(0, 40) t(i)
"""


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode, value-checked (functions/codecs.py — pure-Python
    LZW with variable-width codes): per asset, a small id-derived palette
    and an index pattern idx(y,x) = (y*w + x + id) % k are GIF-encoded
    (real LZW, table clears included) and decoded back; the output is
    the same integer pix_sum + position-weighted digest pair as
    png_decode, so palette mapping, LZW width bumps, and row order are
    all value-hash-checked. DuckDB replays the palette and index
    arithmetic over a bounded range cross product."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import decode_gif, encode_gif

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                k = 4 + i % 5
                h = 6 + (i % 3) * 2
                w = 9
                pal = np.stack(
                    [
                        np.array(
                            [
                                (i * 13 + j * 29) % 256,
                                (i * 7 + j * 41) % 256,
                                (i * 3 + j * 53) % 256,
                            ],
                            np.uint8,
                        )
                        for j in range(k)
                    ]
                )
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                idx = (y * w + x + i) % k
                arr = decode_gif(encode_gif(pal[idx]))
                hh, ww, cc = arr.shape
                v = arr.astype(np.int64)
                wgt = (
                    np.arange(hh)[:, None, None] * ww * 3
                    + np.arange(ww)[None, :, None] * 3
                    + np.arange(cc)[None, None, :]
                    + 1
                )
                rows.append(
                    {
                        "asset_id": i, "width": ww, "height": hh,
                        "pix_sum": int(v.sum()),
                        "pos_digest": int((v * wgt).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, pix_sum long, pos_digest long",
    )


ORACLE_GIF_DECODE = """
WITH a AS (SELECT i AS asset_id, 4 + i % 5 AS k, 6 + (i % 3) * 2 AS h
           FROM range(0, 40) t(i)),
px AS (
  SELECT a.asset_id, a.h, ry.y, rx.x, rc.c,
         (ry.y * 9 + rx.x + a.asset_id) % a.k AS j
  FROM a, range(0, 10) ry(y), range(0, 9) rx(x), range(0, 3) rc(c)
  WHERE ry.y < a.h),
pv AS (
  SELECT asset_id, h, y, x, c,
         CASE c
           WHEN 0 THEN (asset_id * 13 + j * 29) % 256
           WHEN 1 THEN (asset_id * 7 + j * 41) % 256
           ELSE (asset_id * 3 + j * 53) % 256
         END AS v
  FROM px)
SELECT asset_id, CAST(9 AS INT) AS width, CAST(MAX(h) AS INT) AS height,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * (y*9*3 + x*3 + c + 1)) AS BIGINT) AS pos_digest
FROM pv GROUP BY asset_id
"""


def q_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + frame sampling, value-checked (functions/
    codecs.py encode_avi/decode_avi/sample_video_frames — uncompressed
    RIFF-AVI with DIB frames, the video member of the uncompressed-
    workhorse tier beside PPM/WAV): per asset, flat frames whose fill is
    a pure function of (asset_id, frame_idx) are packed into an AVI at
    an id-derived fps, sampled every 500 ms with the REAL decoder, and
    each sampled frame's PPM payload is decoded back to its fill. The
    oracle replays the sampling arithmetic (step = fps div 2) and fill
    formula over a range cross product — frame misalignment, fps
    parsing, row order, or BGR/RGB swaps all shift values."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import (
        decode_ppm,
        encode_avi,
        sample_video_frames,
    )

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                fps = 5 + i % 3
                nf = 8 + (i % 5) * 2
                h = 8 + (i % 2) * 4
                frames = np.stack(
                    [
                        np.full((h, 12, 3), (i * 31 + f * 7) % 256, np.uint8)
                        for f in range(nf)
                    ]
                )
                rows.append(
                    {"asset_id": i, "content": encode_avi(frames, fps=fps)}
                )
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")
    sampled = sample_video_frames(assets, every_ms=500)

    def feat(batches):
        for pdf in batches:
            rows = []
            for aid, fi, ts, blob in zip(
                pdf["asset_id"], pdf["frame_idx"], pdf["ts_ms"], pdf["content"]
            ):
                arr = decode_ppm(bytes(blob))
                rows.append(
                    {
                        "asset_id": int(aid), "frame_idx": int(fi),
                        "ts_ms": int(ts), "height": arr.shape[0],
                        "width": arr.shape[1], "fill": int(arr[0, 0, 0]),
                        "uniform": bool((arr == arr[0, 0, 0]).all()),
                    }
                )
            yield pd.DataFrame(rows)

    return sampled.mapInPandas(
        feat,
        "asset_id long, frame_idx int, ts_ms long, height int, width int, "
        "fill int, uniform boolean",
    )


ORACLE_VIDEO_DECODE = """
WITH a AS (
  SELECT i AS asset_id, 5 + i % 3 AS fps, 8 + (i % 5) * 2 AS nf,
         8 + (i % 2) * 4 AS h
  FROM range(0, 40) t(i)),
fr AS (
  SELECT a.asset_id, a.fps, a.h, f.f
  FROM a, range(0, 16) f(f)
  WHERE f.f < a.nf AND f.f % GREATEST(1, a.fps // 2) = 0)
SELECT asset_id, CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 // fps AS BIGINT) AS ts_ms,
       CAST(h AS INT) AS height, CAST(12 AS INT) AS width,
       CAST((asset_id * 31 + f * 7) % 256 AS INT) AS fill,
       TRUE AS uniform
FROM fr
"""


def q_video_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode, value-checked: Motion-JPEG AVI
    (functions/codecs.py encode_avi(codec='MJPG') — per-frame baseline
    JPEGs in '00dc' chunks — composed with the functions/jpeg.py T.81
    codec). Per asset, 16x16 flat RGB frames whose fills reuse
    jpeg_decode's 48 margin-verified q90 triples (j = (id*31 + f*7) % 48
    → the (j*37, j*59+11, j*83+29) % 256 channels; flat blocks are
    DC-only so quantization error ≤ 3/16 < 0.5 and the lossy roundtrip
    is EXACT) are MJPG-packed at an id-derived fps and sampled every
    500 ms by the STREAMING chunk walk (only sampled frames decode).
    The oracle replays the sampling grid and fill arithmetic — container
    framing, per-frame JPEG decode, fps parsing, and the sampling step
    are all value-hash-checked."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import (
        decode_ppm,
        encode_avi,
        sample_video_frames,
    )

    base = _asset_base(spark, 36)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                fps = 4 + i % 3
                nf = 6 + (i % 4) * 2
                frames = []
                for f in range(nf):
                    j = (i * 31 + f * 7) % 48
                    r, g, b = (
                        (j * 37) % 256, (j * 59 + 11) % 256, (j * 83 + 29) % 256,
                    )
                    frames.append(
                        np.dstack(
                            [np.full((16, 16), v, np.uint8) for v in (r, g, b)]
                        )
                    )
                rows.append(
                    {
                        "asset_id": i,
                        "content": encode_avi(
                            np.stack(frames), fps=fps, codec="MJPG", quality=90
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")
    sampled = sample_video_frames(assets, every_ms=500)

    def feat(batches):
        for pdf in batches:
            rows = []
            for aid, fi, ts, blob in zip(
                pdf["asset_id"], pdf["frame_idx"], pdf["ts_ms"], pdf["content"]
            ):
                arr = decode_ppm(bytes(blob))
                rows.append(
                    {
                        "asset_id": int(aid), "frame_idx": int(fi),
                        "ts_ms": int(ts), "width": arr.shape[1],
                        "height": arr.shape[0],
                        "uniform": bool((arr == arr[0, 0]).all()),
                        "r": int(arr[0, 0, 0]), "g": int(arr[0, 0, 1]),
                        "b": int(arr[0, 0, 2]),
                    }
                )
            yield pd.DataFrame(rows)

    return sampled.mapInPandas(
        feat,
        "asset_id long, frame_idx int, ts_ms long, width int, height int, "
        "uniform boolean, r int, g int, b int",
    )


ORACLE_VIDEO_MJPEG = """
WITH a AS (
  SELECT i AS asset_id, 4 + i % 3 AS fps, 6 + (i % 4) * 2 AS nf
  FROM range(0, 36) t(i)),
fr AS (
  SELECT a.asset_id, a.fps, f.f,
         (a.asset_id * 31 + f.f * 7) % 48 AS j
  FROM a, range(0, 12) f(f)
  WHERE f.f < a.nf AND f.f % GREATEST(1, a.fps * 500 // 1000) = 0)
SELECT asset_id, CAST(f AS INT) AS frame_idx,
       CAST(f * 1000 // fps AS BIGINT) AS ts_ms,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       TRUE AS uniform,
       CAST((j * 37) % 256 AS INT) AS r,
       CAST((j * 59 + 11) % 256 AS INT) AS g,
       CAST((j * 83 + 29) % 256 AS INT) AS b
FROM fr
"""


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-checked (functions/codecs.py): square-wave
    WAV-PCM assets generated from asset_id arithmetic (amplitude A,
    frame count, 8 kHz), written through the stdlib wave writer and parsed
    back by the hand-built RIFF decoder. A ±A square wave has rms exactly
    A and peak exactly A, and duration is frames/8 ms — all analytically
    computable by the oracle over range(n), so the decode path (chunk
    walk, sample width, channel reshape) is value-hash-checked without
    DuckDB ever touching a WAV byte."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import audio_features, encode_wav

    base = _asset_base(spark, 48)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                a = 1000 + (int(aid) % 7) * 100
                frames = 4000 + (int(aid) % 5) * 400
                wave = np.empty(frames, dtype=np.int16)
                wave[0::2] = a
                wave[1::2] = -a
                rows.append(
                    {"asset_id": int(aid), "content": encode_wav(wave, 8000)}
                )
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")
    return audio_features(assets).select(
        "asset_id", "sample_rate", "channels", "n_frames", "duration_ms",
        "rms", "peak",
    )


ORACLE_AUDIO_DECODE = """
SELECT i AS asset_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       CAST(4000 + (i % 5) * 400 AS BIGINT) AS n_frames,
       CAST((4000 + (i % 5) * 400) / 8 AS BIGINT) AS duration_ms,
       CAST(1000 + (i % 7) * 100 AS DOUBLE) AS rms,
       CAST(1000 + (i % 7) * 100 AS INT) AS peak
FROM range(0, 48) t(i)
"""


def q_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 companded audio (functions/audio.py — vectorized CCITT
    μ-law/A-law, pinned bit-exact against CPython's audioop in tests),
    value-checked end-to-end THROUGH the WAV container: per asset, 200
    non-negative samples x_j = (i*31 + j*17) % 8000 are μ-law (even
    assets) or A-law (odd) encoded into fmt-7/6 RIFF bytes executor-side
    and decoded back by decode_wav_ex; output is the sum and a
    position-weighted digest of the decoded int16 samples. The oracle
    RE-DERIVES the companding curves in SQL (segment CASE + bit ops) —
    an independent reimplementation of the spec, so any defect in the
    segment search, mantissa math, bias, or the RIFF fmt-6/7 framing
    breaks the value hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.audio import encode_wav_g711
    from scio_spark.functions.codecs import decode_wav_ex

    base = _asset_base(spark, 64)
    j = np.arange(200, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                x = ((i * 31 + j * 17) % 8000).astype(np.int16)
                law = "ulaw" if i % 2 == 0 else "alaw"
                sr, arr, codec = decode_wav_ex(encode_wav_g711(x, 8000, law))
                s = arr[:, 0].astype(np.int64)
                rows.append(
                    {
                        "asset_id": i, "codec": codec,
                        "sample_rate": sr, "n_samples": int(s.size),
                        "sample_sum": int(s.sum()),
                        "digest": int((s * (j + 1)).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, codec string, sample_rate int, n_samples int, "
        "sample_sum long, digest long",
    )


ORACLE_AUDIO_G711 = """
WITH s AS (
  SELECT i, j, (i * 31 + j * 17) % 8000 AS x
  FROM range(0, 64) t(i) CROSS JOIN range(0, 200) u(j)
),
enc AS (
  SELECT i, j,
         CASE WHEN i % 2 = 0 THEN LEAST(x >> 2, 8159) + 33
              ELSE x >> 3 END AS v
  FROM s
),
seg AS (
  SELECT i, j, v,
         CASE WHEN i % 2 = 0 THEN
           CASE WHEN v <= 63 THEN 0 WHEN v <= 127 THEN 1
                WHEN v <= 255 THEN 2 WHEN v <= 511 THEN 3
                WHEN v <= 1023 THEN 4 WHEN v <= 2047 THEN 5
                WHEN v <= 4095 THEN 6 ELSE 7 END
         ELSE
           CASE WHEN v <= 31 THEN 0 WHEN v <= 63 THEN 1
                WHEN v <= 127 THEN 2 WHEN v <= 255 THEN 3
                WHEN v <= 511 THEN 4 WHEN v <= 1023 THEN 5
                WHEN v <= 2047 THEN 6 ELSE 7 END
         END AS e
  FROM enc
),
val AS (
  SELECT i, j,
         CASE WHEN i % 2 = 0 THEN
           (((((v >> (e + 1)) & 15) << 3) + 132) << e) - 132
         ELSE
           CASE WHEN e = 0
                THEN (((v >> 1) & 15) << 4) + 8
                ELSE ((((v >> e) & 15) << 4) + 264) << (e - 1) END
         END AS d
  FROM seg
)
SELECT i AS asset_id,
       CASE WHEN i % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
       CAST(8000 AS INT) AS sample_rate,
       CAST(200 AS INT) AS n_samples,
       CAST(SUM(d) AS BIGINT) AS sample_sum,
       CAST(SUM(d * (j + 1)) AS BIGINT) AS digest
FROM val GROUP BY i
"""


def q_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA/DVI ADPCM WAV (format tag 0x11; functions/audio.py — block
    headers + 4-bit adaptive codes, nibble core pinned bit-exact vs
    audioop in tests), VALUE-EXACT end to end: per asset (stereo when
    i%4==3) samples x(ch, j) = ((i*53 + t*t) % 4001) - 2000 with
    t = j + 7*ch fill EXACTLY 2/3/4 full 505-sample blocks, go through
    encode_wav_adpcm → RIFF → decode_wav_ex, and come back as a
    position-weighted digest. The oracle RE-DERIVES the whole
    encode-decode recurrence in SQL: because the encoder tracks the
    decoder's reconstruction, the roundtrip output is a single
    recurrence in (predictor, step index) with block-start resets
    (predictor := first sample, step index := 0 — the vectorized
    encoder seeds every block's header independently) — expressed as a
    DuckDB recursive CTE over the literal 89-entry step table. Any defect in the quantizer, the reconstruction, the index
    walk, the block framing, or the stereo nibble interleave breaks the
    value hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.audio import encode_wav_adpcm
    from scio_spark.functions.codecs import decode_wav_ex

    base = _asset_base(spark, 48)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                n = 505 * (2 + i % 3)
                j = np.arange(n, dtype=np.int64)
                stereo = i % 4 == 3
                chans = [(((i * 53 + j * j) % 4001) - 2000)]
                if stereo:
                    t = j + 7
                    chans.append(((i * 53 + t * t) % 4001) - 2000)
                x = np.stack(chans, axis=1).astype(np.int16)
                x = x[:, 0] if not stereo else x
                sr, arr, codec = decode_wav_ex(encode_wav_adpcm(x, 8000))
                s = arr.astype(np.int64)
                w = (j + 1)[:, None] * (np.arange(s.shape[1]) * 2 + 1)
                rows.append(
                    {
                        "asset_id": i, "codec": codec, "sample_rate": sr,
                        "channels": int(s.shape[1]),
                        "n_frames": int(s.shape[0]),
                        "sample_sum": int(s.sum()),
                        "digest": int((s * w).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, codec string, sample_rate int, channels int, "
        "n_frames long, sample_sum long, digest long",
    )


# The IMA step table as a SQL literal (ISO/IMA spec data — deliberately
# transcribed here rather than imported from functions/audio.py, so the
# oracle does not share the implementation's table object).
_IMA_STEP_SQL = ",".join(
    f"({k},{v})"
    for k, v in enumerate(
        [
            7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
            34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
            143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
            449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
            1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
            3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
            9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
            22385, 24623, 27086, 29794, 32767,
        ]
    )
)


ORACLE_AUDIO_ADPCM = f"""
WITH RECURSIVE
steptab(si, sv) AS (VALUES {_IMA_STEP_SQL}),
lanes AS (
  SELECT i, ch FROM range(0, 48) t(i) CROSS JOIN range(0, 2) c(ch)
  WHERE ch = 0 OR i % 4 = 3
),
s AS (
  SELECT l.i, l.ch, j,
         ((l.i * 53 + (j + 7 * l.ch) * (j + 7 * l.ch)) % 4001) - 2000 AS x
  FROM lanes l CROSS JOIN range(0, 2020) u(j)
  WHERE j < 505 * (2 + l.i % 3)
),
rec(i, ch, j, pred, sidx) AS (
  SELECT i, ch, 0, x, 0 FROM s WHERE j = 0
  UNION ALL
  SELECT s.i, s.ch, s.j,
    CASE WHEN s.j % 505 = 0 THEN s.x ELSE
      GREATEST(-32768, LEAST(32767,
        r.pred + CASE WHEN s.x - r.pred < 0 THEN -1 ELSE 1 END * (
          (st.sv >> 3)
          + CASE WHEN (CASE WHEN ABS(s.x - r.pred) >= st.sv
                       THEN ABS(s.x - r.pred) - st.sv
                       ELSE ABS(s.x - r.pred) END) >= (st.sv >> 1)
                 THEN st.sv >> 1 ELSE 0 END
          + CASE WHEN (
              (CASE WHEN ABS(s.x - r.pred) >= st.sv
                    THEN ABS(s.x - r.pred) - st.sv
                    ELSE ABS(s.x - r.pred) END)
              - (CASE WHEN (CASE WHEN ABS(s.x - r.pred) >= st.sv
                            THEN ABS(s.x - r.pred) - st.sv
                            ELSE ABS(s.x - r.pred) END) >= (st.sv >> 1)
                      THEN st.sv >> 1 ELSE 0 END)
            ) >= (st.sv >> 2) THEN st.sv >> 2 ELSE 0 END
          + CASE WHEN ABS(s.x - r.pred) >= st.sv THEN st.sv ELSE 0 END
        )))
    END,
    CASE WHEN s.j % 505 = 0 THEN 0 ELSE
      GREATEST(0, LEAST(88, r.sidx +
        CASE (CASE WHEN ABS(s.x - r.pred) >= st.sv THEN 4 ELSE 0 END
            + CASE WHEN (CASE WHEN ABS(s.x - r.pred) >= st.sv
                         THEN ABS(s.x - r.pred) - st.sv
                         ELSE ABS(s.x - r.pred) END) >= (st.sv >> 1)
                   THEN 2 ELSE 0 END
            + CASE WHEN (
                (CASE WHEN ABS(s.x - r.pred) >= st.sv
                      THEN ABS(s.x - r.pred) - st.sv
                      ELSE ABS(s.x - r.pred) END)
                - (CASE WHEN (CASE WHEN ABS(s.x - r.pred) >= st.sv
                              THEN ABS(s.x - r.pred) - st.sv
                              ELSE ABS(s.x - r.pred) END) >= (st.sv >> 1)
                        THEN st.sv >> 1 ELSE 0 END)
              ) >= (st.sv >> 2) THEN 1 ELSE 0 END)
          WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN -1
          WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 ELSE 8 END))
    END
  FROM rec r
  JOIN s ON s.i = r.i AND s.ch = r.ch AND s.j = r.j + 1
  JOIN steptab st ON st.si = r.sidx
)
SELECT i AS asset_id, 'ima_adpcm' AS codec,
       CAST(8000 AS INT) AS sample_rate,
       CAST(CASE WHEN i % 4 = 3 THEN 2 ELSE 1 END AS INT) AS channels,
       CAST(505 * (2 + i % 3) AS BIGINT) AS n_frames,
       CAST(SUM(pred) AS BIGINT) AS sample_sum,
       CAST(SUM(pred * (j + 1) * (ch * 2 + 1)) AS BIGINT) AS digest
FROM rec GROUP BY i
"""


def q_audio_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC lossless audio (functions/flac.py — pure-Python frame
    algebra: FIXED/CONSTANT/VERBATIM subframes, Rice residuals, CRC-8/16,
    STREAMINFO MD5). FLAC is LOSSLESS, so the oracle is exact: per asset
    the samples x_j = ((i*53 + j*j) % 4001) - 2000 (deliberately
    nonlinear so FIXED predictors leave real residuals) are FLAC-encoded
    executor-side, decoded back, and digested as sum + position-weighted
    sum; compression must also beat raw PCM (compressed=TRUE) so the
    encoder can't cheat with VERBATIM-only streams. The SQL replays the
    sample arithmetic directly — any defect in Rice coding, predictor
    integration, framing, or CRC handling breaks the hash. Multi-frame:
    n=1500 at blocksize 512 → 3 frames per asset."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.flac import decode_flac, encode_flac

    base = _asset_base(spark, 48)
    j = np.arange(1500, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                x = (((i * 53 + j * j) % 4001) - 2000).astype(np.int16)
                blob = encode_flac(x, 16000, blocksize=512)
                sr, back = decode_flac(blob)
                s = back[:, 0].astype(np.int64)
                rows.append(
                    {
                        "asset_id": i, "sample_rate": sr,
                        "n_samples": int(s.size),
                        "sample_sum": int(s.sum()),
                        "digest": int((s * (j + 1)).sum()),
                        "compressed": bool(len(blob) < x.size * 2),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, sample_rate int, n_samples int, sample_sum long, "
        "digest long, compressed boolean",
    )


ORACLE_AUDIO_FLAC = """
WITH s AS (
  SELECT i, j, ((i * 53 + j * j) % 4001) - 2000 AS x
  FROM range(0, 48) t(i) CROSS JOIN range(0, 1500) u(j)
)
SELECT i AS asset_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(1500 AS INT) AS n_samples,
       CAST(SUM(x) AS BIGINT) AS sample_sum,
       CAST(SUM(x * (j + 1)) AS BIGINT) AS digest,
       TRUE AS compressed
FROM s GROUP BY i
"""


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode (functions/tiff.py — TIFF 6.0 strip layout,
    pure Python): per asset an id-derived gradient pix(y,x) =
    (y*(3+i%5) + x*7 + i) % 256 (gray for even assets, RGB with
    per-channel offsets for odd) is encoded with the compression the
    asset id selects — none / PackBits / LZW / LZW+predictor — split
    into 4-row strips, and decoded back to an integer sum + position-
    weighted digest. The oracle replays the pixel arithmetic: a wrong
    IFD walk, strip split, LZW width bump, predictor integration, or
    byte order breaks the value hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.tiff import decode_tiff, encode_tiff

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                h, w = 10 + (i % 3) * 2, 13
                y, x = np.mgrid[0:h, 0:w]
                g = (y * (3 + i % 5) + x * 7 + i) % 256
                if i % 2:
                    img = np.dstack(
                        [g, (g + 85) % 256, (g + 170) % 256]
                    ).astype(np.uint8)
                else:
                    img = g.astype(np.uint8)
                comp = ("none", "packbits", "lzw", "lzw")[i % 4]
                blob = encode_tiff(
                    img, compression=comp, rows_per_strip=4,
                    predictor=(i % 4 == 3),
                )
                out = decode_tiff(blob).astype(np.int64)
                flat = out.reshape(-1)
                rows.append(
                    {
                        "asset_id": i,
                        "width": int(out.shape[1]),
                        "height": int(out.shape[0]),
                        "channels": 3 if i % 2 else 1,
                        "pix_sum": int(flat.sum()),
                        "digest": int(
                            (flat * (np.arange(flat.size) + 1)).sum()
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, width int, height int, channels int, "
        "pix_sum long, digest long",
    )


ORACLE_TIFF_DECODE = """
WITH px AS (
  SELECT i, y, x, c,
         CASE WHEN i % 2 = 1
              THEN (y * (3 + i % 5) + x * 7 + i + c * 85) % 256
              ELSE (y * (3 + i % 5) + x * 7 + i) % 256 END AS v,
         (y * 13 + x) * (CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END) + c + 1
           AS pos
  FROM range(0, 40) t(i)
  CROSS JOIN range(0, 14) ty(y)
  CROSS JOIN range(0, 13) tx(x)
  CROSS JOIN range(0, 3) tc(c)
  WHERE y < 10 + (i % 3) * 2 AND (c = 0 OR i % 2 = 1)
)
SELECT i AS asset_id,
       CAST(13 AS INT) AS width,
       CAST(10 + (i % 3) * 2 AS INT) AS height,
       CAST(CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END AS INT) AS channels,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * pos) AS BIGINT) AS digest
FROM px GROUP BY i
"""


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio corpus normalization (functions/audio.py resample_linear +
    resample_audio): per asset an arithmetic signal x_j = ((i*37 +
    j*11) % 3000) - 1500 at 8 kHz is PCM-encoded, resampled THROUGH the
    Spark surface (decode → linear interpolation on the center-aligned
    grid → PCM16 WAV re-encode) to 16 kHz (even assets) or 6 kHz (odd),
    decoded back, and digested. The oracle RE-DERIVES the interpolation
    in SQL — source position arithmetic, neighbor clamp, fractional
    blend, floor(+0.5) rounding — so a wrong grid convention or an
    off-by-one at the edges breaks the value hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.audio import resample_audio
    from scio_spark.functions.codecs import decode_wav_ex, encode_wav

    base = _asset_base(spark, 32)
    n = 400

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                j = np.arange(n, dtype=np.int64)
                x = (((i * 37 + j * 11) % 3000) - 1500).astype(np.int16)
                rows.append({"asset_id": i, "content": encode_wav(x, 8000)})
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")

    def post(batches):
        for pdf in batches:
            rows = []
            for aid, blob, sr in zip(
                pdf["asset_id"], pdf["content"], pdf["sample_rate"]
            ):
                _, arr, _ = decode_wav_ex(bytes(blob))
                s = arr[:, 0].astype(np.int64)
                k = np.arange(s.size, dtype=np.int64)
                rows.append(
                    {
                        "asset_id": int(aid), "sample_rate": int(sr),
                        "n_samples": int(s.size),
                        "digest": int((s * (k + 1)).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    even = resample_audio(assets.filter("asset_id % 2 = 0"), 16000)
    odd = resample_audio(assets.filter("asset_id % 2 = 1"), 6000)
    return even.unionByName(odd).mapInPandas(
        post, "asset_id long, sample_rate int, n_samples int, digest long"
    )


ORACLE_AUDIO_RESAMPLE = """
WITH p AS (
  SELECT i, CASE WHEN i % 2 = 0 THEN 800 ELSE 300 END AS m
  FROM range(0, 32) t(i)
),
grid AS (
  SELECT p.i, p.m, k,
         (k + 0.5) * 400 / p.m - 0.5 AS pos
  FROM p CROSS JOIN range(0, 800) u(k)
  WHERE k < p.m
),
interp AS (
  SELECT i, m, k,
         GREATEST(0, LEAST(399, CAST(FLOOR(pos) AS BIGINT))) AS i0,
         LEAST(GREATEST(0, LEAST(399, CAST(FLOOR(pos) AS BIGINT))) + 1, 399) AS i1,
         GREATEST(0.0, LEAST(1.0,
           pos - GREATEST(0, LEAST(399, CAST(FLOOR(pos) AS BIGINT))))) AS frac
  FROM grid
),
vals AS (
  SELECT i, m, k,
         FLOOR(
           (((i * 37 + i0 * 11) % 3000) - 1500) * (1.0 - frac)
           + (((i * 37 + i1 * 11) % 3000) - 1500) * frac + 0.5
         ) AS v
  FROM interp
)
SELECT i AS asset_id,
       CAST(CASE WHEN i % 2 = 0 THEN 16000 ELSE 6000 END AS INT)
         AS sample_rate,
       CAST(m AS INT) AS n_samples,
       CAST(SUM(v * (k + 1)) AS BIGINT) AS digest
FROM vals GROUP BY i, m
"""


def q_video_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video metadata probe (codecs.video_features — AVI header/chunk
    walk, NO pixel decode, the video analog of the MP3 probe): per
    asset an AVI with id-derived geometry/fps/frame-count (DIB or MJPG,
    audio track on every third asset) is assembled executor-side and
    probed back. The oracle replays the arithmetic — wrong chunk walk,
    fps math, or stream detection breaks the hash."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import encode_avi, video_features

    base = _asset_base(spark, 40)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                nf = 2 + i % 4
                w = 8 * (1 + i % 3)
                fps = 5 + i % 6
                frames = np.full((nf, 8, w, 3), (i * 31) % 256, np.uint8)
                audio = (
                    np.zeros(200 + i, np.int16) if i % 3 == 0 else None
                )
                rows.append(
                    {
                        "asset_id": i,
                        "content": encode_avi(
                            frames,
                            fps=fps,
                            codec="MJPG" if i % 2 else "DIB",
                            audio=audio,
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    assets = base.mapInPandas(gen, "asset_id long, content binary")
    return video_features(assets).select(
        "asset_id", "width", "height", "fps", "n_frames", "duration_ms",
        "codec", "has_audio",
    )


ORACLE_VIDEO_PROBE = """
SELECT i AS asset_id,
       CAST(8 * (1 + i % 3) AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(5 + i % 6 AS INT) AS fps,
       CAST(2 + i % 4 AS INT) AS n_frames,
       CAST(((2 + i % 4) * 1000) // (5 + i % 6) AS BIGINT) AS duration_ms,
       CASE WHEN i % 2 = 1 THEN 'MJPG' ELSE 'DIB' END AS codec,
       i % 3 = 0 AS has_audio
FROM range(0, 40) t(i)
"""


def q_avi_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI audio-track extraction (codecs.extract_avi_audio): PCM16
    samples x_j = ((i*29 + j*13) % 5000) - 2500 ride an A/V AVI as
    interleaved '01wb' chunks next to MJPG video and come back EXACTLY
    (PCM is lossless through the WAVEFORMATEX reuse). The oracle
    replays the sample arithmetic; a wrong stream number, chunk order,
    or fmt hand-off breaks the digest."""
    import numpy as np
    import pandas as pd

    from scio_spark.functions.codecs import encode_avi, extract_avi_audio

    base = _asset_base(spark, 32)

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                n = 600 + 100 * (i % 4)
                j = np.arange(n, dtype=np.int64)
                x = (((i * 29 + j * 13) % 5000) - 2500).astype(np.int16)
                frames = np.full((3, 8, 8, 3), (i * 7) % 256, np.uint8)
                blob = encode_avi(
                    frames, fps=10, codec="MJPG", audio=x, audio_rate=8000
                )
                sr, arr, codec = extract_avi_audio(blob)
                s = arr[:, 0].astype(np.int64)
                rows.append(
                    {
                        "asset_id": i, "sample_rate": sr, "codec": codec,
                        "n_samples": int(s.size),
                        "digest": int((s * (j + 1)).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, sample_rate int, codec string, n_samples int, "
        "digest long",
    )


ORACLE_AVI_AUDIO = """
WITH s AS (
  SELECT i, j, ((i * 29 + j * 13) % 5000) - 2500 AS x
  FROM range(0, 32) t(i) CROSS JOIN range(0, 900) u(j)
  WHERE j < 600 + 100 * (i % 4)
)
SELECT i AS asset_id, CAST(8000 AS INT) AS sample_rate,
       'pcm16' AS codec,
       CAST(600 + 100 * (i % 4) AS INT) AS n_samples,
       CAST(SUM(x * (j + 1)) AS BIGINT) AS digest
FROM s GROUP BY i
"""


def q_audio_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 metadata probe (functions/audio.py probe_mp3 — ISO 11172-3
    frame-header walk; sample decode needs a polyphase filterbank and
    stays import-gated): per asset a synthetic MPEG-1 Layer III
    elementary stream with an id-derived (bitrate index, sample-rate
    index, frame count) is assembled executor-side from the spec's
    frame-length arithmetic and probed back. The oracle RE-DERIVES the
    ISO bitrate/sample-rate tables and the samples-per-frame duration
    math in SQL — a wrong table entry, a bad sync walk, or an
    off-by-one in the ID3v2 skip (odd assets get a tag prefix) breaks
    the value hash."""
    import struct as _struct

    import pandas as pd

    from scio_spark.functions.audio import probe_mp3

    base = _asset_base(spark, 60)
    kbps_tab = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    rate_tab = [44100, 48000, 32000]

    def gen(batches):
        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                i = int(aid)
                bridx = 1 + i % 14
                sridx = i % 3
                nf = 20 + i % 11
                kbps, rate = kbps_tab[bridx], rate_tab[sridx]
                h = (
                    (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                    | (bridx << 12) | (sridx << 10) | (3 << 6)
                )
                flen = 144 * kbps * 1000 // rate
                blob = (_struct.pack(">I", h) + bytes(flen - 4)) * nf
                if i % 2:  # half the assets carry an ID3v2 tag to skip
                    blob = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 11]) + bytes(11) + blob
                p = probe_mp3(blob)
                rows.append(
                    {
                        "asset_id": i,
                        "sample_rate": p["sample_rate"],
                        "bitrate_kbps": p["bitrate_kbps"],
                        "n_frames": p["n_frames"],
                        "duration_ms": p["duration_ms"],
                        "channels": p["channels"],
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "asset_id long, sample_rate int, bitrate_kbps int, n_frames int, "
        "duration_ms long, channels int",
    )


ORACLE_AUDIO_MP3_PROBE = """
WITH p AS (
  SELECT i,
         CASE i % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS rate,
         CASE 1 + i % 14
           WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
           WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
           WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
           WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps,
         20 + i % 11 AS nf
  FROM range(0, 60) t(i)
)
SELECT i AS asset_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(kbps AS INT) AS bitrate_kbps,
       CAST(nf AS INT) AS n_frames,
       CAST((nf * 1152 * 1000) // rate AS BIGINT) AS duration_ms,
       CAST(1 AS INT) AS channels
FROM p
"""
