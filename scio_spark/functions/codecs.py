"""Real codecs for uncompressed multimodal formats — no external libs.

The multimodal design (functions/multimodal.py) gates PIL/ffmpeg work
behind import-try stubs because this image ships no media libraries. That
gate is only necessary for COMPRESSED formats; the uncompressed workhorse
formats are pure arithmetic and get real, tested implementations here:

- PPM (P6) / PGM (P5): netpbm binary images — header + raw pixels,
- BMP: 24-bit uncompressed BI_RGB (bottom-up rows, 4-byte row padding),
- WAV: RIFF audio — integer PCM (8/16/24/32-bit), IEEE float32, G.711
  μ-law/A-law, and IMA/DVI ADPCM (the compressed codecs live in
  functions/audio.py, pinned bit-exact against CPython's audioop). The
  decoder parses RIFF chunks by hand; tests round-trip the PCM path
  against the stdlib ``wave`` writer, so the two sides are independent
  implementations,
- PNG (8/16-bit gray/RGB/RGBA/gray+alpha/palette, sequential + Adam7):
  the compression is stdlib ``zlib`` — chunk framing, CRC-32, and all
  five scanline filters (W3C spec) implemented here; tests decode
  independently hand-assembled chunks so the filter math isn't checked
  against itself,
- GIF (87a/89a): pure-Python LZW (variable-width LSB-first codes),
  global/local palettes, interlacing, multi-frame — plus an LZW
  encoder, palette-derived, for images with <= 256 distinct colors,
- AVI (uncompressed 'DIB ' video): RIFF chunk walk, BMP-layout frames,
  real frame sampling (sample_video_frames),
- JPEG lives in ``functions/jpeg.py`` (T.81: baseline + progressive +
  12-bit), TIFF in ``functions/tiff.py`` (6.0 strips: none/PackBits/LZW
  + predictor), compressed audio in ``functions/audio.py`` (G.711, IMA
  ADPCM, MP3 probe) and ``functions/flac.py`` (lossless FLAC). Only
  MP3 sample decode, arithmetic JPEG, and video codecs beyond the AVI
  tier stay behind multimodal.py's import gate.

On top of the byte codecs: Spark-side feature extraction (dimensions,
per-channel mean/std, RMS/peak audio energy), nearest-neighbor image
resize, and PCM window segmentation — all real computation over
mapInPandas Arrow batches (payload bytes cross into Python once per
batch). ``sniff`` routes by magic bytes; unknown/compressed formats fall
through to the gated path in multimodal.py.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame

# ------------------------------------------------------------- image: netpbm


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 array (h, w, 3) → binary PPM (P6), or (h, w) → PGM (P5)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
    elif arr.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError(f"encode_ppm: need (h,w,3) or (h,w), got {arr.shape}")
    h, w = arr.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(blob: bytes) -> np.ndarray:
    """Binary PPM/PGM → uint8 array (h, w, 3) or (h, w). Handles comment
    lines and arbitrary whitespace in the header, per the netpbm spec."""
    if blob[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM")
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    if blob[:2] == b"P6":
        data = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=pos)
        return data.reshape(h, w, 3)
    data = np.frombuffer(blob, dtype=np.uint8, count=w * h, offset=pos)
    return data.reshape(h, w)


# --------------------------------------------------------------- image: BMP


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB → 24-bit uncompressed BMP (BI_RGB). Rows are
    stored bottom-up, BGR, padded to 4 bytes, per the format."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"encode_bmp: need (h,w,3), got {arr.shape}")
    h, w = arr.shape[:2]
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += arr[y, :, ::-1].tobytes()  # RGB → BGR
        body += b"\x00" * pad
    size = 54 + len(body)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def decode_bmp(blob: bytes) -> np.ndarray:
    """BMP → uint8 (h, w, 3) RGB. Layouts per the public BMP format:
    24-bit BI_RGB (the encoder's output), 32-bit BI_RGB (BGRX — alpha
    byte dropped), 8-bit palette (BI_RGB), and 8-bit BI_RLE8 run-length
    (encoded/absolute runs, end-of-line/bitmap, delta skips). Bottom-up
    and top-down (negative height) row orders both handled."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", blob, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    (compression,) = struct.unpack_from("<I", blob, 30)
    flip = h > 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("BMP: empty image")
    if h * w > 1 << 28:  # hostile header: error, don't allocate TBs
        raise ValueError(f"BMP: implausible dimensions {w}x{h}")
    if bpp == 24 and compression == 0:
        row = w * 3
        stride = (row + 3) // 4 * 4
        out = np.empty((h, w, 3), dtype=np.uint8)
        for y in range(h):
            line = np.frombuffer(
                blob, np.uint8, count=row, offset=data_off + y * stride
            )
            out[h - 1 - y if flip else y] = line.reshape(w, 3)[:, ::-1]
        return out
    if bpp == 32 and compression == 0:
        stride = w * 4
        out = np.empty((h, w, 3), dtype=np.uint8)
        for y in range(h):
            line = np.frombuffer(
                blob, np.uint8, count=stride, offset=data_off + y * stride
            ).reshape(w, 4)
            out[h - 1 - y if flip else y] = line[:, 2::-1]  # BGRX → RGB
        return out
    if bpp == 8 and compression in (0, 1):
        (used,) = struct.unpack_from("<I", blob, 46)
        ncolors = used or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            blob, np.uint8, count=ncolors * 4, offset=pal_off
        ).reshape(ncolors, 4)[:, 2::-1]  # BGRX → RGB
        idx = np.zeros((h, w), np.uint8)
        if compression == 0:
            stride = (w + 3) // 4 * 4
            for y in range(h):
                idx[h - 1 - y if flip else y] = np.frombuffer(
                    blob, np.uint8, count=w, offset=data_off + y * stride
                )
        else:  # BI_RLE8 — always bottom-up per the format
            pos = data_off
            x = y = 0  # y counts from the BOTTOM row
            while pos + 1 < len(blob):
                n, v = blob[pos], blob[pos + 1]
                pos += 2
                if n > 0:  # encoded run
                    end = min(x + n, w)
                    idx[h - 1 - y, x:end] = v
                    x = end
                elif v == 0:  # end of line
                    x, y = 0, y + 1
                    if y >= h:
                        break
                elif v == 1:  # end of bitmap
                    break
                elif v == 2:  # delta
                    if pos + 1 >= len(blob):
                        raise ValueError("BMP RLE8: truncated delta")
                    x += blob[pos]
                    y += blob[pos + 1]
                    pos += 2
                    if x > w or y >= h:
                        raise ValueError("BMP RLE8: delta out of range")
                else:  # absolute run of v pixels, word-aligned
                    if pos + v > len(blob):
                        raise ValueError("BMP RLE8: truncated absolute run")
                    end = min(x + v, w)
                    idx[h - 1 - y, x:end] = np.frombuffer(
                        blob, np.uint8, count=end - x, offset=pos
                    )
                    x = end
                    pos += v + (v & 1)
            if not flip:
                idx = idx[::-1]
        if int(idx.max(initial=0)) >= ncolors:
            raise ValueError("BMP: palette index out of range")
        return pal[idx]
    raise ValueError(
        f"unsupported BMP (bpp={bpp}, compression={compression})"
    )


# --------------------------------------------------------------- audio: WAV


def encode_wav(samples: np.ndarray, sample_rate: int, channels: int = 1) -> bytes:
    """int16 PCM samples (frames,) or (frames, channels) → WAV bytes via
    the stdlib wave writer (deliberately NOT this module's own code — the
    round-trip test then checks decode_wav against an independent
    implementation)."""
    import io
    import wave

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 2:
        channels = arr.shape[1]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(arr.tobytes())
    return buf.getvalue()


def decode_wav(blob: bytes) -> tuple[int, np.ndarray]:
    """WAV → (sample_rate, int16 array (frames, channels)). Backward-
    compatible wrapper over :func:`decode_wav_ex`."""
    sr, arr, _codec = decode_wav_ex(blob)
    return sr, arr


def decode_wav_ex(blob: bytes) -> tuple[int, np.ndarray, str]:
    """WAV → (sample_rate, int16 (frames, channels), codec name).
    Hand-parses the RIFF chunk list (fmt then data; other chunks
    skipped). Format coverage:

    - tag 1 (PCM): 8 (unsigned), 16, 24, 32-bit — all widened/narrowed
      to int16,
    - tag 3 (IEEE float32) → int16,
    - tags 6/7 (G.711 A-law/μ-law) → vectorized expand (functions/
      audio.py, pinned bit-exact against CPython's audioop),
    - tag 0x11 (IMA/DVI ADPCM) → block-structured adaptive decode.

    Anything else raises ValueError (never Index/struct errors — one
    corrupt asset must not kill a fleet task)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, len(blob)
    sample_rate = channels = bits = fmt = None
    block_align = 0
    data = None
    while pos + 8 <= end:
        cid = blob[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", blob, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            fmt, channels, sample_rate = struct.unpack_from("<HHI", blob, body)
            block_align, bits = struct.unpack_from("<HH", blob, body + 12)
            if fmt == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: the real format
                if clen < 40:  # tag is the SubFormat GUID's first word
                    raise ValueError("WAV: truncated EXTENSIBLE fmt chunk")
                (fmt,) = struct.unpack_from("<H", blob, body + 24)
        elif cid == b"data":
            data = blob[body : body + clen]
        pos = body + clen + (clen & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if channels < 1:
        raise ValueError("WAV declares zero channels")

    from scio_spark.functions import audio as _audio

    if fmt == 1:  # integer PCM
        if bits == 16:
            arr = np.frombuffer(data, dtype="<i2")
        elif bits == 8:
            arr = ((np.frombuffer(data, np.uint8).astype(np.int16) - 128) << 8)
        elif bits == 24:
            raw = np.frombuffer(data[: len(data) - len(data) % 3], np.uint8)
            raw = raw.reshape(-1, 3).astype(np.int32)
            full = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
            full = np.where(full >= 1 << 23, full - (1 << 24), full)
            arr = (full >> 8).astype(np.int16)
        elif bits == 32:
            arr = (np.frombuffer(data, dtype="<i4") >> 16).astype(np.int16)
        else:
            raise ValueError(f"unsupported WAV PCM bit depth {bits}")
        codec = f"pcm{bits}"
    elif fmt == 3:  # IEEE float
        if bits != 32:
            raise ValueError(f"unsupported WAV float bit depth {bits}")
        f = np.clip(np.frombuffer(data, dtype="<f4"), -1.0, 1.0)
        arr = np.round(f * 32767.0).astype(np.int16)
        codec = "float32"
    elif fmt == 6:
        arr = _audio.alaw_decode(np.frombuffer(data, np.uint8))
        codec = "alaw"
    elif fmt == 7:
        arr = _audio.ulaw_decode(np.frombuffer(data, np.uint8))
        codec = "ulaw"
    elif fmt == 0x11:
        out = _audio.adpcm_wav_decode(data, channels, block_align)
        return sample_rate, out, "ima_adpcm"
    else:
        raise ValueError(f"unsupported WAV (fmt={fmt}, bits={bits})")
    if channels > 1:
        arr = arr[: arr.size - arr.size % channels].reshape(-1, channels)
    else:
        arr = arr.reshape(-1, 1)
    return sample_rate, arr, codec


# --------------------------------------------------------------- image: PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type → samples/px


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    arr: np.ndarray, filter_cycle: tuple[int, ...] = (0,)
) -> bytes:
    """uint8 (h,w) gray / (h,w,3) RGB / (h,w,4) RGBA → PNG bytes (W3C PNG
    spec — the compression is stdlib zlib, so no media library is needed).
    ``filter_cycle`` picks the scanline filter per row, cycling (all five
    W3C filters supported; encoding is vectorized — unlike decode, the
    filter transform reads only RAW neighbor values, so there is no
    sequential dependency). Fixed filters + fixed zlib level keep the
    bytes deterministic for retried tasks."""
    import zlib

    arr = np.asarray(arr)
    if arr.dtype == np.uint16:
        depth, bps = 16, 2
    else:
        arr = arr.astype(np.uint8)
        depth, bps = 8, 1
    if arr.ndim == 2:
        color, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
        # 2 = gray+alpha (color type 4) — decode_png emits it, so the
        # encoder must round-trip it
        color, ch = {2: 4, 3: 2, 4: 6}[arr.shape[2]], arr.shape[2]
    else:
        raise ValueError(
            f"encode_png: need (h,w) or (h,w,{{2,3,4}}), got {arr.shape}"
        )
    h, w = arr.shape[:2]
    bpp = ch * bps  # filters operate on BYTES per the spec
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    raw = (
        np.frombuffer(
            arr.astype(">u2").tobytes() if bps == 2 else arr.tobytes(),
            np.uint8,
        )
        .reshape(h, w * bpp)
        .astype(np.int16)  # wide for the deltas
    )
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    upleft = np.zeros_like(raw)
    upleft[1:, bpp:] = raw[:-1, :-bpp]
    scan = bytearray()
    for y in range(h):
        f = filter_cycle[y % len(filter_cycle)]
        r, a, b, c = raw[y], left[y], up[y], upleft[y]
        if f == 0:
            filt = r
        elif f == 1:  # Sub
            filt = r - a
        elif f == 2:  # Up
            filt = r - b
        elif f == 3:  # Average
            filt = r - ((a + b) >> 1)
        elif f == 4:  # Paeth — vectorized predictor selection
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where(
                (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
            )
            filt = r - pred
        else:
            raise ValueError(f"encode_png: unknown filter {f}")
        scan.append(f)
        scan += (filt & 0xFF).astype(np.uint8).tobytes()
    idat = zlib.compress(bytes(scan), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, h: int, w: int, bpp: int) -> np.ndarray:
    """Reconstruct ``h`` scanlines of ``w*bpp`` bytes from filtered data
    (one leading filter byte per line; ``bpp`` = BYTES per pixel — PNG
    filters operate bytewise at every depth) → uint8 (h, w*bpp)."""
    stride = w * bpp
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG pixel data length mismatch")
    rows = np.frombuffer(raw, np.uint8).reshape(h, 1 + stride)
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:].copy()
        if f == 0:
            pass
        elif f == 1:  # Sub — vectorized: per byte-lane running sum mod 256
            lanes = cur.reshape(w, bpp).astype(np.uint64)
            cur = (lanes.cumsum(axis=0) & 0xFF).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up — vectorized (uint8 addition wraps mod 256)
            cur += prev
        elif f == 3:  # Average — left-dependency is sequential; plain
            # Python-int lists are ~20x faster than numpy scalar indexing
            pl, rec = prev.tolist(), cur.tolist()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + pl[i]) >> 1)) & 0xFF
            cur = np.asarray(rec, np.uint8)
        elif f == 4:  # Paeth — same sequential shape, inlined predictor
            pl, rec = prev.tolist(), cur.tolist()
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = pl[i]
                c = pl[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rec[i] = (rec[i] + pred) & 0xFF
            cur = np.asarray(rec, np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur
        prev = cur
    return out


def decode_png(blob: bytes) -> np.ndarray:
    """PNG → (h,w) / (h,w,2) / (h,w,3) / (h,w,4), dtype uint8 for 8-bit
    depth and uint16 for 16-bit depth. Supports color types 0/2/3/4/6
    (palette resolves through PLTE), sequential AND Adam7-interlaced
    layouts, all five scanline filters. Chunk CRCs are verified.
    Sub-8-bit depths (1/2/4) raise. Throughput: None/Up/Sub rows
    decode vectorized (~100-350 MB/s/core); Average/Paeth rows carry a
    true sequential left-dependency (~4-7 MB/s/core in pure Python) —
    across a 32-core executor the mapInPandas surfaces still decode
    >100 MB/s worst-case, and most real encoders emit mixed rows."""
    import zlib

    if blob[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, end = 8, len(blob)
    ihdr, plte, idat = None, None, bytearray()
    while pos + 8 <= end:
        (clen,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + clen]
        if len(data) != clen or pos + 12 + clen > end:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", blob, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch ({ctype!r})")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, fmethod, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth not in (8, 16) or comp != 0 or fmethod != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, comp={comp})")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    ch = _PNG_CHANNELS.get(color)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {color}")
    if color == 3 and depth != 8:
        raise ValueError("16-bit palette PNG is not valid")
    bps = depth // 8
    bpp = ch * bps
    if h * w * bpp > 1 << 29:  # hostile header: contained error, not an
        raise ValueError(f"PNG: implausible dimensions {w}x{h}x{ch}")  # OOM
    # expected pixel bytes (+1 filter byte/row; Adam7 re-rows the same
    # pixels so the bound holds with a small slack for its 7 sub-headers)
    cap = h * (1 + w * bpp) + 8 * h + 64
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), cap)
        if dec.unconsumed_tail or len(dec.decompress(b"", 1)) > 0:
            # a deflate bomb: output past anything the header justifies
            raise ValueError("PNG IDAT inflates past declared dimensions")
    except zlib.error as e:  # corrupt deflate stream must raise ValueError
        raise ValueError(f"corrupt PNG IDAT: {e}") from e
    if interlace == 0:
        out = _png_unfilter(raw, h, w, bpp)
    else:  # Adam7: 7 sub-images concatenated in one zlib stream, each
        # filtered independently, scattered onto the (y0::dy, x0::dx) grid
        out = np.zeros((h, w * bpp), np.uint8)
        img = out.reshape(h, w, bpp)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            size = ph * (1 + pw * bpp)
            sub = _png_unfilter(raw[off : off + size], ph, pw, bpp)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += size
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing/invalid PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    if bps == 2:  # big-endian sample pairs → uint16
        out = (out[:, 0::2].astype(np.uint16) << 8) | out[:, 1::2]
    return out.reshape(h, w) if ch == 1 else out.reshape(h, w, ch)


# --------------------------------------------------------------- image: GIF


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF LZW (LSB-first variable-width codes) → index bytes."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = nbits = pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW data truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:n_pixels])


def _gif_lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Index bytes → GIF LZW stream (dict-based, clears on table full)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = nbits = 0

    width = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1:
            if width < 12:
                width += 1
            else:
                emit(clear)
                table = {bytes([i]): i for i in range(clear)}
                next_code = end + 1
                width = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(blob: bytes) -> np.ndarray:
    """GIF87a/89a → uint8 (h, w, 3) RGB of the FIRST frame (the feature-
    extraction contract; animations' later frames are raw, un-composited
    sub-rectangles — use :func:`decode_gif_frames` for all of them).
    Handles global/local color tables, interlacing, and LZW per the
    public GIF spec; extension blocks are skipped."""
    frames = decode_gif_frames(blob, max_frames=1)
    return frames[0]


def decode_gif_frames(blob: bytes, max_frames: int = 0) -> list[np.ndarray]:
    """All image blocks of a GIF as full-canvas RGB arrays (each frame's
    sub-rectangle placed at its offset on a copy of the previous canvas —
    the common disposal-0/1 rendering; transparency is not applied)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _gif_frames(blob, max_frames)
    except (IndexError, struct.error) as e:
        raise ValueError(f"corrupt GIF stream: {e!r}") from e


def _gif_frames(blob: bytes, max_frames: int) -> list[np.ndarray]:
    W, H, flags, _bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    if W == 0 or H == 0 or W * H > 1 << 28:  # hostile header: contained
        raise ValueError(f"GIF: implausible canvas {W}x{H}")  # error, no OOM
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(blob, np.uint8, count=n * 3, offset=pos).reshape(
            -1, 3
        )
        pos += n * 3
    canvas = np.zeros((H, W, 3), np.uint8)
    frames: list[np.ndarray] = []
    while pos < len(blob):
        b = blob[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(blob) and blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            x0, y0, w, h, iflags = struct.unpack_from("<HHHHB", blob, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(
                    blob, np.uint8, count=n * 3, offset=pos
                ).reshape(-1, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image with no color table")
            mcs = blob[pos]
            pos += 1
            data = bytearray()
            while pos < len(blob) and blob[pos] != 0:
                ln = blob[pos]
                data += blob[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1  # block terminator
            idx = np.frombuffer(
                _gif_lzw_decode(bytes(data), mcs, w * h), np.uint8
            )
            if int(idx.max(initial=0)) >= len(ct):
                raise ValueError("GIF index out of palette range")
            rect = ct[idx].reshape(h, w, 3)
            if iflags & 0x40:  # interlaced: reorder rows per the 4 passes
                ordered = np.empty_like(rect)
                src = 0
                for start, step in _GIF_INTERLACE:
                    rows = range(start, h, step)
                    ordered[list(rows)] = rect[src : src + len(rows)]
                    src += len(rows)
                rect = ordered
            canvas = canvas.copy()
            canvas[y0 : y0 + h, x0 : x0 + w] = rect
            frames.append(canvas)
            if max_frames and len(frames) >= max_frames:
                return frames
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def encode_gif(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB → single-frame GIF89a. The palette is built
    from the image's distinct colors (> 256 distinct raises — quantize
    first; thumbnails and charts fit naturally). Real LZW compression."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"encode_gif: need (h,w,3), got {arr.shape}")
    h, w = arr.shape[:2]
    flat = arr.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(
            f"encode_gif: {len(colors)} distinct colors > 256 — quantize "
            "first (GIF is palette-indexed)"
        )
    depth = max(1, (len(colors) - 1).bit_length())
    n_pal = 1 << depth
    pal = np.zeros((n_pal, 3), np.uint8)
    pal[: len(colors)] = colors
    mcs = max(2, depth)  # spec: min code size >= 2
    lzw = _gif_lzw_encode(inverse.astype(np.uint8).tobytes(), mcs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)  # image descriptor
    out.append(mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # terminator + trailer
    return bytes(out)


# --------------------------------------------------------- video: AVI (DIB)


def encode_avi(
    frames: np.ndarray,
    fps: int = 25,
    codec: str = "DIB",
    quality: int = 90,
    audio: np.ndarray | None = None,
    audio_rate: int = 16000,
) -> bytes:
    """uint8 (n, h, w, 3) RGB frames → AVI bytes (RIFF 'AVI ', one 'vids'
    stream), per the public AVI RIFF spec. ``codec='DIB'`` writes
    uncompressed 24-bit bottom-up BGR frames ('00db' chunks — the BMP raw
    pixel layout); ``codec='MJPG'`` writes Motion-JPEG: one baseline JPEG
    per frame (functions/jpeg.py at ``quality``) in '00dc' chunks — the
    simplest compressed video tier, every frame independently decodable.
    ``audio`` (int16 (samples,) or (samples, ch) PCM) adds a second
    'auds' stream: a WAVEFORMATEX strf plus '01wb' chunks interleaved
    one per video frame, the standard A/V layout
    (extract_avi_audio reads it back exactly).
    Parity note: the reference has no media codecs at all (binaryFile is
    its multimodal floor)."""
    frames = np.asarray(frames, dtype=np.uint8)
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(f"encode_avi: need (n,h,w,3), got {frames.shape}")
    if codec not in ("DIB", "MJPG"):
        raise ValueError(
            f"encode_avi: unsupported codec {codec!r} (DIB or MJPG)"
        )
    n, h, w = frames.shape[:3]
    row = w * 3
    pad = (4 - row % 4) % 4

    def lst(tag: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", len(body) + 4) + tag + body

    def chk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    if codec == "MJPG":
        from scio_spark.functions.jpeg import encode_jpeg

        payloads = [encode_jpeg(f, quality=quality) for f in frames]
        fourcc, frame_tag = b"MJPG", b"00dc"
        (compression,) = struct.unpack("<I", b"MJPG")
        buf_bytes = max((len(p) for p in payloads), default=0)
    else:
        payloads = None
        fourcc, frame_tag = b"DIB ", b"00db"
        compression = 0  # BI_RGB
        buf_bytes = (row + pad) * h

    usec = 1_000_000 // fps
    avih = struct.pack(
        "<14I", usec, buf_bytes * fps, 0, 0x10, n, 0, 1, buf_bytes,
        w, h, 0, 0, 0, 0,
    )
    # AVISTREAMHEADER: fccType fccHandler flags prio lang init scale rate
    # start length bufsize quality samplesize rcFrame
    strh = (
        b"vids" + fourcc
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, buf_bytes, 0, 0
        )
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, buf_bytes, 0, 0, 0, 0
    )
    strl = lst(b"strl", chk(b"strh", strh) + chk(b"strf", strf))
    audio_chunks: list[bytes] = []
    if audio is not None:
        aud = np.asarray(audio, np.int16)
        if aud.ndim == 1:
            aud = aud[:, None]
        ach = aud.shape[1]
        block = 2 * ach
        astrh = (
            b"auds" + b"\x00\x00\x00\x00"
            + struct.pack(
                "<IHHIIIIIIII", 0, 0, 0, 0, 1, audio_rate, 0,
                aud.shape[0], audio_rate * block, 0, block,
            )
            + struct.pack("<4H", 0, 0, 0, 0)
        )
        astrf = struct.pack(
            "<HHIIHHH", 1, ach, audio_rate, audio_rate * block, block, 16, 0
        )
        strl += lst(b"strl", chk(b"strh", astrh) + chk(b"strf", astrf))
        per = -(-aud.shape[0] // max(n, 1))
        for k in range(0, aud.shape[0], per):
            audio_chunks.append(aud[k : k + per].tobytes())
    n_streams = 2 if audio is not None else 1
    avih = avih[:24] + struct.pack("<I", n_streams) + avih[28:]
    hdrl = lst(b"hdrl", chk(b"avih", avih) + strl)
    movi_body = bytearray(b"movi")
    for fi in range(n):
        if codec == "MJPG":
            movi_body += chk(frame_tag, payloads[fi])
        else:
            f = frames[fi]
            body = bytearray()
            for y in range(h - 1, -1, -1):
                body += f[y, :, ::-1].tobytes()  # bottom-up BGR, like BMP
                body += b"\x00" * pad
            movi_body += chk(frame_tag, bytes(body))
        if fi < len(audio_chunks):  # standard interleave: audio follows
            movi_body += chk(b"01wb", audio_chunks[fi])  # its video frame
    for extra in audio_chunks[n:]:
        movi_body += chk(b"01wb", extra)
    riff_body = b"AVI " + hdrl + b"LIST" + struct.pack(
        "<I", len(movi_body)
    ) + bytes(movi_body)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _parse_avi(blob: bytes) -> tuple[int, int, int, str, list[tuple[int, int]]]:
    """AVI header/chunk walk WITHOUT pixel decode: returns (w, h, fps,
    codec, frame spans) where each span is the (offset, length) of one
    video frame chunk body ('00db'/'00dc'). This is the streaming entry
    point — the walk touches only chunk headers (O(frames) byte-range
    reads), so callers can decode just the frames they need
    (iter_avi_frames / sample_video_frames) and peak memory scales with
    ONE frame, not clip length. codec is 'DIB' or 'MJPG'; other fourccs
    raise ValueError."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    w = h = None
    fps = 25
    codec = None
    spans: list[tuple[int, int]] = []
    in_vids = False

    def walk(pos: int, end: int, depth: int = 0) -> None:
        nonlocal w, h, fps, codec, in_vids
        if depth > 16:  # crafted deep nesting must not escape as
            raise ValueError("AVI LIST nesting too deep")  # RecursionError
        while pos + 8 <= end:
            tag = blob[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", blob, pos + 4)
            body = pos + 8
            if body + clen > len(blob):
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST":
                walk(body + 4, body + clen, depth + 1)
            elif tag == b"avih":
                vals = struct.unpack_from("<14I", blob, body)
                w = w or vals[8]
                h = h or vals[9]
            elif tag == b"strh":
                in_vids = blob[body : body + 4] == b"vids"
                if in_vids:
                    fourcc = blob[body + 4 : body + 8]
                    if fourcc in (b"DIB ", b"\x00\x00\x00\x00", b"RGB "):
                        codec = "DIB"
                    elif fourcc == b"MJPG":
                        codec = "MJPG"
                    else:
                        raise ValueError(
                            f"compressed AVI codec {fourcc!r} unsupported "
                            "(DIB and MJPG are built in)"
                        )
                    scale, rate = struct.unpack_from("<II", blob, body + 20)
                    if scale and rate:
                        fps = max(1, rate // scale)
            elif tag == b"strf" and in_vids:
                # BITMAPINFOHEADER of the video stream. For DIB, a 32-bpp
                # or top-down (biHeight<0) layout passes the per-frame
                # length check (those frames are LARGER) and would
                # silently decode garbage — validate up front. For MJPG
                # the pixel geometry lives in each frame's own JPEG.
                if clen >= 16 and codec == "DIB":
                    bi_h, _planes, bitcount = struct.unpack_from(
                        "<iHH", blob, body + 8
                    )
                    if bitcount != 24 or bi_h <= 0:
                        raise ValueError(
                            "unsupported uncompressed AVI DIB layout "
                            f"(biBitCount={bitcount}, biHeight={bi_h}); "
                            "only bottom-up 24-bpp frames are supported"
                        )
            elif tag in (b"00db", b"00dc"):
                if w is None or h is None:
                    raise ValueError("AVI frame before header")
                spans.append((body, clen))
            pos = body + clen + (clen & 1)

    walk(12, len(blob))
    if w is None or h is None or codec is None or not spans:
        raise ValueError("AVI missing header/frames")
    return int(w), int(h), fps, codec, spans


def _decode_avi_frame(
    blob: bytes, off: int, clen: int, w: int, h: int, codec: str
) -> np.ndarray:
    """Decode ONE frame chunk body → uint8 (h, w, 3) RGB."""
    if codec == "MJPG":
        from scio_spark.functions.jpeg import decode_jpeg

        arr = decode_jpeg(blob[off : off + clen])
        if arr.ndim == 2:  # grayscale MJPEG frame
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        if arr.shape[0] != h or arr.shape[1] != w:
            raise ValueError(
                f"MJPG frame is {arr.shape[1]}x{arr.shape[0]}, "
                f"header says {w}x{h}"
            )
        return arr
    row = w * 3
    stride = (row + 3) // 4 * 4
    if clen < stride * h:
        raise ValueError("AVI frame data length mismatch")
    out = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        line = np.frombuffer(blob, np.uint8, count=row, offset=off + y * stride)
        out[h - 1 - y] = line.reshape(w, 3)[:, ::-1]
    return out


def iter_avi_frames(
    blob: bytes, indices: Iterable[int] | None = None
) -> Iterator[tuple[int, np.ndarray]]:
    """Generator of (frame_idx, uint8 (h, w, 3) RGB) that decodes ONLY
    the requested frames. The chunk walk indexes every frame's byte span
    up front (headers only — no pixels), then pixel decode runs lazily
    per yielded frame, so peak memory is one frame plus the blob, not the
    whole clip. ``indices=None`` yields every frame in order;
    out-of-range indices are skipped."""
    w, h, _fps, codec, spans = _parse_avi(blob)
    sel = range(len(spans)) if indices is None else [
        i for i in indices if 0 <= i < len(spans)
    ]
    for i in sel:
        off, clen = spans[i]
        yield i, _decode_avi_frame(blob, off, clen, w, h, codec)


def decode_avi(blob: bytes) -> tuple[int, np.ndarray]:
    """AVI → (fps, uint8 (n, h, w, 3) RGB frames), DIB or MJPG streams.
    Materializes the WHOLE clip — for sampling long clips use
    iter_avi_frames / sample_video_frames, which decode only the frames
    they return."""
    w, h, fps, codec, spans = _parse_avi(blob)
    frames = [
        _decode_avi_frame(blob, off, clen, w, h, codec)
        for off, clen in spans
    ]
    return fps, np.stack(frames)


def extract_avi_audio(blob: bytes) -> tuple[int, np.ndarray, str]:
    """AVI audio track → (sample_rate, int16 (frames, channels), codec).
    Walks the RIFF tree for the 'auds' stream header, takes its strf —
    which IS a WAVEFORMATEX, byte-identical to a WAV fmt chunk body —
    gathers that stream's interleaved 'NNwb' chunks in order, and hands
    the pair to the WAV decode stack, so every audio codec decode_wav_ex
    supports (PCM depths, float32, G.711, IMA ADPCM, EXTENSIBLE) works
    inside AVI for free. Raises ValueError when the file has no audio
    stream."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    stream_no = -1
    n_streams = 0
    fmt_body: bytes | None = None
    in_auds = False
    parts: list[bytes] = []
    tag_prefix = None

    def walk(pos: int, end: int, depth: int = 0) -> None:
        nonlocal stream_no, n_streams, fmt_body, in_auds, tag_prefix
        if depth > 16:
            raise ValueError("AVI LIST nesting too deep")
        while pos + 8 <= end:
            tag = blob[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", blob, pos + 4)
            body = pos + 8
            if body + clen > len(blob):
                raise ValueError("truncated AVI chunk")
            if tag == b"LIST":
                walk(body + 4, body + clen, depth + 1)
            elif tag == b"strh":
                in_auds = blob[body : body + 4] == b"auds"
                if in_auds and stream_no < 0:
                    stream_no = n_streams
                    tag_prefix = b"%02dw" % stream_no
                n_streams += 1
            elif tag == b"strf" and in_auds and fmt_body is None:
                fmt_body = blob[body : body + clen]
            elif tag_prefix and tag[:3] == tag_prefix:  # NNwb chunks
                parts.append(blob[body : body + clen])
            pos = body + clen + (clen & 1)

    walk(12, len(blob))
    if fmt_body is None:
        raise ValueError("AVI has no audio ('auds') stream")
    from scio_spark.functions.audio import _riff_wave

    return decode_wav_ex(_riff_wave(fmt_body, b"".join(parts)))


def _avi_has_audio(blob: bytes) -> bool:
    """Chunk-walk for an 'auds' stream header (headers only, no decode)."""

    def walk(pos: int, end: int, depth: int = 0) -> bool:
        if depth > 16:
            return False
        while pos + 8 <= end:
            tag = blob[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", blob, pos + 4)
            body = pos + 8
            if body + clen > len(blob):
                return False
            if tag == b"LIST":
                if walk(body + 4, body + clen, depth + 1):
                    return True
            elif tag == b"strh" and blob[body : body + 4] == b"auds":
                return True
            pos = body + clen + (clen & 1)
        return False

    return walk(12, len(blob))


def video_features(
    df: DataFrame, content_col: str = "content", id_col: str = "asset_id"
) -> DataFrame:
    """Video metadata probe — the curation-pipeline slice of video: the
    AVI header/chunk walk (_parse_avi) touches only chunk headers, so
    width/height/fps/frame-count/duration come back WITHOUT decoding a
    single pixel (the video analog of probe_mp3). has_audio flags an
    'auds' stream. Unknown/corrupt payloads → decoder='unknown' rows,
    never task death."""
    import pandas as pd

    schema = (
        f"{id_col} long, width int, height int, fps int, n_frames int, "
        "duration_ms long, codec string, has_audio boolean, decoder string"
    )

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                b = bytes(blob)
                try:
                    w, h, fps, codec, spans = _parse_avi(b)
                    rows.append(
                        {
                            id_col: aid, "width": w, "height": h,
                            "fps": fps, "n_frames": len(spans),
                            "duration_ms": len(spans) * 1000 // fps,
                            "codec": codec,
                            "has_audio": _avi_has_audio(b),
                            "decoder": "avi",
                        }
                    )
                except (ValueError, struct.error):
                    rows.append(
                        {
                            id_col: aid, "width": None, "height": None,
                            "fps": None, "n_frames": None,
                            "duration_ms": None, "codec": None,
                            "has_audio": None, "decoder": "unknown",
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    content_col: str = "content",
    id_col: str = "asset_id",
) -> DataFrame:
    """REAL video frame sampling for AVI payloads (uncompressed DIB or
    Motion-JPEG): one row per sampled frame with its timestamp and the
    frame re-encoded as PPM (the uncompressed interchange format) — the
    decode-included analog of multimodal.frame_sample_plan. STREAMING:
    the chunk walk indexes frame spans without touching pixels, and only
    every step-th frame is decoded, so executor memory scales with the
    sampled frames, not clip length. Undecodable payloads (and corrupt
    individual frames) are skipped, not fatal."""
    import pandas as pd

    schema = (
        f"{id_col} long, frame_idx int, ts_ms long, {content_col} binary"
    )

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                b = bytes(blob)
                try:
                    w, h, fps, codec, spans = _parse_avi(b)
                except (ValueError, struct.error):
                    continue
                step = max(1, fps * every_ms // 1000)
                for i in range(0, len(spans), step):
                    off, clen = spans[i]
                    try:
                        frame = _decode_avi_frame(b, off, clen, w, h, codec)
                    except (ValueError, struct.error):
                        continue
                    rows.append(
                        {
                            id_col: aid, "frame_idx": i,
                            "ts_ms": i * 1000 // fps,
                            content_col: encode_ppm(frame),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


# ------------------------------------------------------------------ routing


def sniff(blob: bytes) -> str | None:
    """Container detection by magic bytes; None for unknown/compressed
    formats (those stay behind multimodal.py's import gate)."""
    if blob[:2] == b"P6" or blob[:2] == b"P5":
        return "ppm"
    if blob[:2] == b"BM":
        return "bmp"
    if blob[:8] == _PNG_SIG:
        return "png"
    if blob[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        return "wav"
    if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        return "avi"
    if blob[:4] == b"fLaC":
        return "flac"
    if blob[:3] == b"ID3":
        return "mp3"
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return None


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via numpy index maps (the standard sampling
    grid: center-aligned)."""
    h, w = arr.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(int), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(int), w - 1)
    return arr[ys][:, xs]


def resize_bilinear(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize, fully vectorized (gather the four neighbors via
    index maps, blend with the center-aligned fractional weights —
    the half-pixel-center convention used by the mainstream training
    pipelines). Separable weights, edge-clamped; uint8 in → uint8 out
    (round-half-away like the codecs' quantizers)."""
    h, w = arr.shape[:2]
    fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)
    a = arr.astype(np.float64)
    top = a[y0][:, x0] * (1 - wx)[None, :, None] + a[y0][:, x1] * wx[None, :, None] \
        if arr.ndim == 3 else a[y0][:, x0] * (1 - wx) + a[y0][:, x1] * wx
    bot = a[y1][:, x0] * (1 - wx)[None, :, None] + a[y1][:, x1] * wx[None, :, None] \
        if arr.ndim == 3 else a[y1][:, x0] * (1 - wx) + a[y1][:, x1] * wx
    out = top * (1 - wy)[:, None, None] + bot * wy[:, None, None] \
        if arr.ndim == 3 else top * (1 - wy)[:, None] + bot * wy[:, None]
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


# ------------------------------------------------------------ Spark surface


def image_features(
    df: DataFrame, content_col: str = "content", id_col: str = "asset_id"
) -> DataFrame:
    """Real decode → features for PPM/PGM/BMP payloads: dimensions,
    channels, per-image mean/std intensity. Unknown formats yield nulls
    with decoder='unknown' (route those to the gated PIL path)."""
    import pandas as pd

    schema = (
        f"{id_col} long, width int, height int, channels int, "
        "mean_intensity double, std_intensity double, decoder string"
    )

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                b = bytes(blob)
                kind = sniff(b)
                try:
                    if kind == "ppm":
                        arr = decode_ppm(b)
                    elif kind == "bmp":
                        arr = decode_bmp(b)
                    elif kind == "png":
                        arr = decode_png(b)
                    elif kind == "gif":
                        arr = decode_gif(b)
                    elif kind == "jpeg":
                        from scio_spark.functions.jpeg import decode_jpeg

                        arr = decode_jpeg(b)
                    elif kind == "tiff":
                        from scio_spark.functions.tiff import decode_tiff

                        arr = decode_tiff(b)
                    else:
                        raise ValueError("unknown")
                    h, w = arr.shape[:2]
                    c = 1 if arr.ndim == 2 else arr.shape[2]
                    rows.append(
                        {
                            id_col: aid, "width": w, "height": h, "channels": c,
                            "mean_intensity": float(arr.mean()),
                            "std_intensity": float(arr.std()),
                            "decoder": kind,
                        }
                    )
                except (ValueError, struct.error):
                    rows.append(
                        {
                            id_col: aid, "width": None, "height": None,
                            "channels": None, "mean_intensity": None,
                            "std_intensity": None, "decoder": "unknown",
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


def resize_images(
    df: DataFrame,
    out_h: int,
    out_w: int,
    content_col: str = "content",
    id_col: str = "asset_id",
    method: str = "nearest",
) -> DataFrame:
    """Real resize for decodable image payloads — ``method='nearest'``
    (index-map sampling) or ``'bilinear'`` (vectorized four-neighbor
    blend, the training-pipeline default). Output re-encodes in the
    source family; unknown payloads pass through unchanged with
    resized=false."""
    import pandas as pd

    if method not in ("nearest", "bilinear"):
        raise ValueError(f"resize_images: unknown method {method!r}")
    resize_fn = resize_nearest if method == "nearest" else resize_bilinear

    schema = f"{id_col} long, {content_col} binary, resized boolean"

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                b = bytes(blob)
                kind = sniff(b)
                try:
                    if kind == "jpeg":
                        from scio_spark.functions.jpeg import decode_jpeg

                        arr = decode_jpeg(b)
                    elif kind == "tiff":
                        from scio_spark.functions.tiff import decode_tiff

                        arr = decode_tiff(b)
                    else:
                        arr = (
                            decode_ppm(b)
                            if kind == "ppm"
                            else decode_bmp(b)
                            if kind == "bmp"
                            else decode_png(b)
                            if kind == "png"
                            else decode_gif(b)
                            if kind == "gif"
                            else None
                        )
                except (ValueError, struct.error):
                    arr = None
                if arr is None:
                    rows.append({id_col: aid, content_col: b, "resized": False})
                else:
                    out = resize_fn(arr, out_h, out_w)
                    # stay in the source family: PNG re-encodes as PNG
                    # (PPM can't carry alpha), JPEG as JPEG (the training-
                    # pipeline norm), netpbm/BMP as PPM/PGM
                    if kind == "png":
                        payload = encode_png(out)
                    elif kind == "gif":
                        # nearest keeps the palette closed; bilinear can
                        # blend new colors past 256 — fall back to PNG
                        # (lossless) when the GIF re-encode would fail
                        try:
                            payload = encode_gif(out)
                        except ValueError:
                            payload = encode_png(out)
                    elif kind == "jpeg":
                        from scio_spark.functions.jpeg import encode_jpeg

                        payload = encode_jpeg(out, 85)
                    elif kind == "tiff":
                        from scio_spark.functions.tiff import encode_tiff

                        payload = encode_tiff(out, compression="lzw")
                    else:
                        payload = encode_ppm(out)
                    rows.append(
                        {id_col: aid, content_col: payload, "resized": True}
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


def audio_features(
    df: DataFrame, content_col: str = "content", id_col: str = "asset_id"
) -> DataFrame:
    """Real WAV-PCM decode → (sample_rate, channels, frames, duration_ms,
    rms, peak). Unknown payloads → nulls with decoder='unknown'."""
    import pandas as pd

    schema = (
        f"{id_col} long, sample_rate int, channels int, n_frames long, "
        "duration_ms long, rms double, peak int, decoder string"
    )

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                b = bytes(blob)
                try:
                    if b[:4] == b"fLaC":
                        from scio_spark.functions.flac import decode_flac

                        sr, arr = decode_flac(b)
                        codec = "flac"
                    else:
                        sr, arr, codec = decode_wav_ex(b)
                    x = arr.astype(np.float64)
                    rows.append(
                        {
                            id_col: aid, "sample_rate": sr,
                            "channels": arr.shape[1], "n_frames": arr.shape[0],
                            "duration_ms": int(arr.shape[0] * 1000 / sr),
                            "rms": float(np.sqrt((x ** 2).mean())) if arr.size else 0.0,
                            "peak": int(np.abs(arr).max()) if arr.size else 0,
                            "decoder": codec if codec == "flac" else f"wav-{codec}",
                        }
                    )
                except (ValueError, struct.error):
                    rows.append(
                        {
                            id_col: aid, "sample_rate": None, "channels": None,
                            "n_frames": None, "duration_ms": None, "rms": None,
                            "peak": None, "decoder": "unknown",
                        }
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)


def segment_audio(
    df: DataFrame,
    window_ms: int,
    content_col: str = "content",
    id_col: str = "asset_id",
) -> DataFrame:
    """Real PCM window segmentation: one row per (asset, window) with its
    own WAV payload — the audio analog of video frame sampling, decode
    included (vs multimodal.frame_sample_plan, which plans timestamps and
    leaves the cut to a gated codec)."""
    import pandas as pd

    schema = f"{id_col} long, window_idx int, start_ms long, {content_col} binary"

    def gen(batches: Iterator[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf[id_col], pdf[content_col]):
                try:
                    sr, arr = decode_wav(bytes(blob))
                except (ValueError, struct.error):
                    continue
                step = max(1, sr * window_ms // 1000)
                for i, s in enumerate(range(0, arr.shape[0], step)):
                    seg = arr[s : s + step]
                    rows.append(
                        {
                            id_col: aid, "window_idx": i,
                            "start_ms": s * 1000 // sr,
                            content_col: encode_wav(seg, sr),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return df.select(id_col, content_col).mapInPandas(gen, schema)
