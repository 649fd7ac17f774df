"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The Spark-side machinery (schemas, batch shapes, partition-preserving
signatures, metadata propagation) is real and tested.  Round 4 replaced
the honesty-stub codec with REAL no-dependency decoders for two genuinely
parseable formats — 24-bit uncompressed BMP (manual header parse + numpy
pixel reshape, :func:`decode_bmp`) and PCM WAV (stdlib ``wave`` +
numpy, :func:`decode_wav`) — plus a real nearest-neighbor resize.
Round 5 adds a real PNG codec (stdlib ``zlib`` inflate + per-spec
scanline unfiltering in numpy, :func:`decode_png` / :func:`encode_png`)
and perceptual image dedup on top of it (:func:`dhash64` /
:func:`image_dhash` feeding ``dedup.signature_near_pairs``).
:func:`decode_image` auto-detects BMP and PNG by magic; other compressed
formats (JPEG/MP3/H.264) still require an external codec and keep the
clearly-marked fallback: ``NotImplementedError`` unless the deterministic
fake decoder is requested.
"""

from __future__ import annotations

import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

#: schema fragment for an attached media column
MEDIA_SCHEMA = (
    "media binary, media_type string, media_w int, media_h int, media_ms int"
)

FEATURE_DIM = 64


def attach_fake_media(df: DataFrame, id_col: str, kind: str = "image") -> DataFrame:
    """Attach a deterministic synthetic media blob per row (stands in for a
    real binary payload; derived from xxhash64 of the id so it is stable)."""
    h = F.xxhash64(F.col(id_col))
    return (
        df.withColumn("media", F.sha2(F.conv(F.hex(h), 16, 16), 256).cast("binary"))
        .withColumn("media_type", F.lit(kind))
        .withColumn("media_w", (F.pmod(h, F.lit(512)) + 32).cast("int"))
        .withColumn("media_h", (F.pmod(h, F.lit(384)) + 32).cast("int"))
        .withColumn("media_ms", F.lit(None).cast("int"))
    )


def _fake_decode(buf: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: seed from the blob
    bytes, emit a (h, w) float32 'luma plane'.  STUB — replace with a real
    codec (PIL/ffmpeg) outside this container."""
    seed = int.from_bytes(buf[:8] if buf else b"\0" * 8, "little")
    rng = np.random.default_rng(seed)
    return rng.random((max(h, 1), max(w, 1)), dtype=np.float32)


# ---------------------------------------------------------------------------
# real codecs (no external libraries)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> a real 24-bit uncompressed BMP file (the
    format any image tool opens).  Rows are written bottom-up with 4-byte
    padding and BGR channel order, per the BMP spec."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB, got {px.shape}")
    h, w, _ = px.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray(img_size)
    bgr = px[:, :, ::-1]  # RGB -> BGR
    for y in range(h):
        row = bgr[h - 1 - y].tobytes()  # bottom-up
        body[y * row_bytes : y * row_bytes + len(row)] = row
    return header + bytes(body)


def decode_bmp(buf: bytes) -> np.ndarray:
    """A real BMP decoder: 24-bit uncompressed (BI_RGB) files -> (h, w, 3)
    uint8 RGB.  Pure header parse + one numpy reshape; bottom-up or
    top-down row order and 4-byte row padding handled per spec."""
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP file")
    (data_off,) = struct.unpack_from("<I", buf, 10)
    hdr_size, w, h_signed = struct.unpack_from("<Iii", buf, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", buf, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit uncompressed BMP supported (bpp={bpp})")
    h = abs(h_signed)
    row_bytes = (w * 3 + 3) & ~3
    need = data_off + row_bytes * h
    if len(buf) < need:
        raise ValueError("truncated BMP")
    raw = np.frombuffer(buf, dtype=np.uint8, count=row_bytes * h, offset=data_off)
    rows = raw.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:
        rows = rows[::-1]  # bottom-up storage -> top-down array
    return rows[:, :, ::-1].copy()  # BGR -> RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 pixels -> a real PNG file (RFC 2083 — stdlib ``zlib``, zero
    new deps).  Accepts (h, w) gray, (h, w, 3) RGB, or (h, w, 4) RGBA;
    8-bit, non-interlaced, filter type 0 on every scanline (always valid;
    compression is zlib's job)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color_type, channels = 0, 1
        px = px[:, :, None]
    elif px.ndim == 3 and px.shape[2] == 3:
        color_type, channels = 2, 3
    elif px.ndim == 3 and px.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"expected (h,w), (h,w,3) or (h,w,4) uint8, got {px.shape}")
    import zlib

    h, w = px.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = np.zeros((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * channels)  # filter byte 0 per scanline
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(buf: bytes) -> np.ndarray:
    """A real PNG decoder: stdlib ``zlib`` inflate + per-spec scanline
    unfiltering (None/Sub/Up/Average/Paeth) in numpy.  Supports 8-bit
    greyscale / RGB / grey+alpha / RGBA, non-interlaced — the shapes
    :func:`encode_png` and common tools emit.  Returns (h, w) uint8 for
    greyscale or (h, w, c) uint8 otherwise.

    Sub and Up unfilter vectorized (a per-channel modular cumsum / one
    row add); Average and Paeth fall back to a per-pixel scan of just the
    rows that use them — bounded work, and encoders that matter for the
    dedup path (ours, and most screenshot pipelines) emit 0/Sub/Up."""
    import zlib

    if buf[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG file")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={color_type}, "
            f"interlace={interlace}); only 8-bit non-interlaced 0/2/4/6"
        )
    stride = w * channels
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != h * (stride + 1):
        raise ValueError("corrupt PNG scanline data")
    raw = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # 8-bit: bytes per pixel == channels
    for y in range(h):
        ftype, line = int(raw[y, 0]), raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: modular cumsum per channel lane
            rec = line.reshape(w, bpp)
            rec = np.cumsum(rec, axis=0, dtype=np.int64).reshape(stride) & 0xFF
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ftype in (3, 4):  # Average / Paeth: sequential along x
            rec = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if ftype == 3:
                    rec[x] = (line[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    rec[x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
    px = out.reshape(h, w, channels)
    return px[:, :, 0].copy() if channels == 1 else px


def encode_wav(samples: np.ndarray, framerate: int = 16_000) -> bytes:
    """float [-1, 1] mono samples -> a real 16-bit PCM WAV file."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    out = io.BytesIO()
    with wave.open(out, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(framerate)
        f.writeframes(pcm16.tobytes())
    return out.getvalue()


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """A real WAV decoder (stdlib ``wave`` + numpy): PCM files -> (float64
    mono samples in [-1, 1], framerate).  Multi-channel input is averaged
    to mono; 8/16/32-bit sample widths supported."""
    with wave.open(io.BytesIO(buf), "rb") as f:
        nch, sw, rate, nframes = (
            f.getnchannels(), f.getsampwidth(), f.getframerate(), f.getnframes(),
        )
        raw = f.readframes(nframes)
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Real nearest-neighbor resize (pure numpy index gather) for (h, w)
    or (h, w, c) arrays — the thumbnail/normalization step."""
    h, w = img.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // max(out_h, 1), h - 1)
    xs = np.minimum((np.arange(out_w) * w) // max(out_w, 1), w - 1)
    return img[ys][:, xs]


def _to_luma(px: np.ndarray) -> np.ndarray:
    """uint8 pixels (any channel layout this module decodes) -> float32
    luma in [0, 1] via the BT.601 weights; alpha is ignored."""
    x = px.astype(np.float32)
    if x.ndim == 2:
        return x / 255.0
    if x.shape[2] == 2:  # grey + alpha
        return x[:, :, 0] / 255.0
    return (
        0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
    ) / 255.0


def decode_image(buf: bytes, w: int, h: int, allow_fake: bool = False) -> np.ndarray:
    """Image bytes -> (h, w) float32 luma plane.  Real paths, detected by
    magic: 24-bit BMP and 8-bit PNG (both zero-dependency codecs in this
    module), converted to luma via the BT.601 weights.  Other compressed
    formats (JPEG/H.264) need an external codec — ``allow_fake`` keeps
    the deterministic stub for plumbing tests."""
    if buf[:2] == b"BM":
        return _to_luma(decode_bmp(buf))
    if buf[: len(_PNG_SIG)] == _PNG_SIG:
        return _to_luma(decode_png(buf))
    if allow_fake:
        return _fake_decode(buf, w, h)
    raise NotImplementedError(
        "only BMP and PNG decode natively in this environment; pass "
        "allow_fake=True for the deterministic stub or plug a real decoder "
        "(PIL/ffmpeg) here"
    )


def dhash64(plane: np.ndarray) -> int:
    """Perceptual difference hash (dHash): resize the luma plane to 8x9
    and emit 64 bits, one per horizontal neighbor comparison — near-
    identical images (resizes, small edits, recompressions) land within
    a few bits of each other."""
    g = resize_nearest(plane, 8, 9)
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    # two's-complement into a signed 64-bit value (Spark LongType)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(
    df: DataFrame, id_col: str = "id", media_col: str = "media",
    allow_fake: bool = False,
) -> DataFrame:
    """``(id, dhash bigint)`` per decodable image row (BMP/PNG by magic;
    NULL or undecodable rows are skipped) — Arrow-batched ``mapInPandas``,
    bounded batches, binary bytes never leave their partition.  Feed the
    output to :func:`poppy_spark.spark.dedup.signature_near_pairs` for
    Hamming-banded perceptual near-dup candidate pairs (the image analog
    of SimHash text near-dup)."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, buf in zip(pdf[id_col], pdf[media_col]):
                if buf is None:
                    continue
                try:
                    plane = decode_image(bytes(buf), 0, 0, allow_fake=allow_fake)
                except Exception:  # noqa: BLE001 — corrupt rows skip, like audio_afp:
                    # a truncated IHDR raises struct.error and corrupt IDAT
                    # zlib.error, so a narrow catch failed the whole job on
                    # one bad PNG-magic row (round-5 advice)
                    continue
                ids.append(i)
                hashes.append(dhash64(plane))
            yield pd.DataFrame({"id": ids, "dhash": hashes})

    return df.select(id_col, media_col).mapInPandas(stage, out_schema)


#: frames x bands grid of the audio fingerprint (9 frames -> 8 deltas, so
#: 8 x 8 = 64 bits, one Spark LongType per clip)
_AFP_FRAMES = 9
_AFP_BANDS = 8


def audio_fingerprint64(x: np.ndarray) -> int | None:
    """Perceptual 64-bit audio fingerprint (a minimal chromaprint-style
    scheme, dHash's audio analog): split the mono signal into 9 equal
    frames, take 8 geometrically-spaced FFT band energies per frame, and
    emit one bit per (band, frame-delta) — set iff the band's energy rose
    between consecutive frames.

    Comparisons are invariant under any positive gain (volume/loudness
    re-encodes hash identically) and stable under small additive noise
    (bits flip only where a band's energy delta changes sign); time
    shifts/trims are NOT normalized — this is a near-duplicate signature,
    not a retrieval fingerprint.  Returns None for clips shorter than
    ``2 * _AFP_FRAMES`` samples."""
    n = x.shape[0]
    if n < 2 * _AFP_FRAMES:
        return None
    frame_len = n // _AFP_FRAMES
    frames = x[: frame_len * _AFP_FRAMES].reshape(_AFP_FRAMES, frame_len)
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2  # (frames, frame_len//2+1)
    nb = spec.shape[1]
    # geometric band edges over [1, nyquist] (bin 0 = DC excluded: constant
    # offset is not perceptual content)
    edges = np.unique(
        np.round(np.geomspace(1, nb, _AFP_BANDS + 1)).astype(int)
    )
    while edges.size < _AFP_BANDS + 1:  # tiny frames: pad by splitting the top
        edges = np.unique(np.append(edges, edges[-1] + 1))
    e = np.zeros((_AFP_FRAMES, _AFP_BANDS))
    for b in range(_AFP_BANDS):
        e[:, b] = spec[:, edges[b] : max(edges[b + 1], edges[b] + 1)].sum(axis=1)
    bits = (e[1:, :] > e[:-1, :]).flatten()  # (8 deltas x 8 bands)
    v = 0
    for i, bit in enumerate(bits):
        if bit:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_afp(
    df: DataFrame, id_col: str = "id", media_col: str = "media"
) -> DataFrame:
    """``(id, afp bigint)`` per decodable WAV row (RIFF magic; NULL,
    non-audio and too-short rows are skipped) — the audio sibling of
    :func:`image_dhash`, same bounded ``mapInPandas`` shape (audio bytes
    never leave their partition; only 8-byte signatures shuffle)."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("afp", T.LongType()),
        ]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for i, buf in zip(pdf[id_col], pdf[media_col]):
                if buf is None or bytes(buf[:4]) != b"RIFF":
                    continue
                try:
                    x, _rate = decode_wav(bytes(buf))
                except Exception:  # wave.Error / truncated payload
                    continue
                fp = audio_fingerprint64(x)
                if fp is None:
                    continue
                ids.append(i)
                fps.append(fp)
            yield pd.DataFrame({"id": ids, "afp": fps})

    return df.select(id_col, media_col).mapInPandas(stage, out_schema)


def audio_near_pairs(
    df: DataFrame,
    id_col: str = "id",
    media_col: str = "media",
    max_hamming: int = 3,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """(id_a, id_b, hamming) perceptually near-duplicate audio pairs:
    :func:`audio_afp` piped into the generic Hamming-banded
    :func:`poppy_spark.spark.dedup.signature_near_pairs` join — the same
    one join SimHash text and image dHash near-dup ride."""
    from poppy_spark.spark.dedup import signature_near_pairs

    fp = audio_afp(df, id_col=id_col, media_col=media_col)
    return signature_near_pairs(
        fp, "id", "afp", max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )


#: rows :func:`extract_media_features` decodes and pools at once: a task
#: holds one chunk of luma planes, never a whole Arrow batch
_POOL_CHUNK_ROWS = 1024


def _pool_grid(X: np.ndarray) -> np.ndarray:
    """``(n, 64)`` float64: each of the ``n`` stacked ``(h, w)`` planes cut
    into an 8x8 ``np.array_split`` grid, one mean per cell.  One
    ``mean(axis=(1, 2))`` per cell applies the identical float32 reduction
    as a per-plane ``.mean()`` (bit-equal, pytest-pinned) at ~1/30 of the
    cost; an empty cell is NaN, as ``.mean()`` gives."""
    rb = np.cumsum([0] + [len(a) for a in np.array_split(np.arange(X.shape[1]), 8)])
    cb = np.cumsum([0] + [len(a) for a in np.array_split(np.arange(X.shape[2]), 8)])
    pooled = np.full((X.shape[0], 64), np.nan)
    for k in range(64):
        sub = X[:, rb[k // 8] : rb[k // 8 + 1], cb[k % 8] : cb[k % 8 + 1]]
        if sub.size:
            pooled[:, k] = sub.mean(axis=(1, 2))
    return pooled


def _pooled_features(bufs, ws, hs, allow_fake: bool):
    """``(row indexes, _pool_grid of their planes)`` per plane shape of
    each ``_POOL_CHUNK_ROWS``-row chunk of the non-NULL rows."""
    for start in range(0, len(bufs), _POOL_CHUNK_ROWS):
        by_shape: dict = {}
        for i in range(start, min(start + _POOL_CHUNK_ROWS, len(bufs))):
            if bufs[i] is None:
                continue
            plane = decode_image(bytes(bufs[i]), int(ws[i]), int(hs[i]), allow_fake=allow_fake)
            grp = by_shape.setdefault((plane.shape, plane.dtype.str), ([], []))
            grp[0].append(i)
            grp[1].append(plane)
        for idxs, planes in by_shape.values():
            yield idxs, _pool_grid(np.stack(planes))


def extract_media_features(df: DataFrame, allow_fake: bool = True) -> DataFrame:
    """Append ``feat array<float>`` (FEATURE_DIM) per media row via
    ``mapInPandas`` — the real Arrow plumbing for a decode/feature stage:
    bounded batch memory (:func:`_pooled_features`), null-safe,
    schema-checked."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("feat", T.ArrayType(T.FloatType()))]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats: list = [None] * len(pdf)
            cols = (pdf[c].tolist() for c in ("media", "media_w", "media_h"))
            for idxs, pooled in _pooled_features(*cols, allow_fake=allow_fake):
                for row_i, vals in zip(idxs, pooled):
                    feats[row_i] = vals.tolist()
            pdf = pdf.copy()
            pdf["feat"] = feats
            yield pdf

    return df.mapInPandas(stage, out_schema)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Append real audio features per WAV row via ``mapInPandas``:
    ``audio_ms`` (duration), ``audio_rms`` (energy), ``audio_zcr``
    (zero-crossing rate, a cheap voiced/unvoiced + noisiness signal),
    ``audio_peak``.  Same bounded-batch Arrow shape as the image stage;
    NULL media rows AND non-audio rows (anything whose bytes lack the
    RIFF/WAVE magic — e.g. the image rows of a mixed media table) pass
    through with NULL features instead of failing the whole job."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("audio_ms", T.IntegerType()),
            T.StructField("audio_rms", T.DoubleType()),
            T.StructField("audio_zcr", T.DoubleType()),
            T.StructField("audio_peak", T.DoubleType()),
        ]
    )

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ms, rms, zcr, peak = [], [], [], []
            for buf in pdf["media"]:
                # gate on RIFF **and** WAVE: RIFF-but-not-WAVE buffers (WebP,
                # AVI) would raise in decode_wav and fail the job — exactly
                # the mixed-media-table case the docstring promises passes
                # through with NULLs (round-5 advice)
                if (
                    buf is None
                    or bytes(buf[:4]) != b"RIFF"
                    or bytes(buf[8:12]) != b"WAVE"
                ):
                    ms.append(None); rms.append(None); zcr.append(None); peak.append(None)
                    continue
                try:
                    x, rate = decode_wav(bytes(buf))
                except Exception:  # noqa: BLE001 — corrupt WAVE rows emit NULLs
                    ms.append(None); rms.append(None); zcr.append(None); peak.append(None)
                    continue
                n = x.size
                ms.append(int(round(1000.0 * n / rate)) if n else 0)
                rms.append(float(np.sqrt(np.mean(x * x))) if n else 0.0)
                zcr.append(
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if n > 1 else 0.0
                )
                peak.append(float(np.abs(x).max()) if n else 0.0)
            pdf = pdf.copy()
            pdf["audio_ms"] = ms
            pdf["audio_rms"] = rms
            pdf["audio_zcr"] = zcr
            pdf["audio_peak"] = peak
            yield pdf

    return df.mapInPandas(stage, out_schema)


def media_content_hash(df: DataFrame, output_col: str = "media_hash") -> DataFrame:
    """Exact-dedup key for binary payloads (JVM-side sha2 — no Python)."""
    return df.withColumn(output_col, F.sha2(F.col("media"), 256))


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling bookkeeping for video rows: explode per-frame offsets
    (metadata only — decoding is the stubbed stage above)."""
    n_frames = F.greatest(F.ceil(F.col("media_ms") / every_ms).cast("int"), F.lit(1))
    return df.filter(F.col("media_type") == "video").withColumn(
        "frame_ms",
        F.explode(F.sequence(F.lit(0), (n_frames - 1) * every_ms, F.lit(every_ms))),
    )
