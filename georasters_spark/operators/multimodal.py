"""Multimodal column operators: image/audio/video as opaque binary +
typed metadata, processed by Arrow-batched UDF pipelines.

Every decode goes through one from-scratch codec per format (pure
numpy + stdlib); formats without one (webp/mp3, coded video frames)
raise NotImplementedError by design, and a deterministic fake decode
exercises the pipeline plumbing.

fmt dispatch:
  'raw16'/'rawf32'/'png'/'q8'  — tile codecs (sources/codec.py); 'png'
                                 is a 16-bit gray tile decoded by
                                 sources/png.py
  'tiff'                       — REAL GeoTIFF incl. BigTIFF
                                 (sources/geotiff.py)
  'jpeg'                       — REAL JPEG: baseline gray/color
                                 (4:4:4/4:2:2/4:2:0) + progressive
                                 (sources/jpeg.py, pure numpy)
  'pngc'                       — REAL full PNG (sources/png.py): all
                                 five filters, depths 1/2/4/8/16,
                                 gray/RGB/RGBA/gray+alpha/palette
                                 (+tRNS), Adam7 interlace;
                                 self-describing dims, color images
                                 collapse to BT.601 integer luminance
  'wav'                        — REAL RIFF/WAVE: PCM16, G.711 and IMA
                                 ADPCM through one chunk walker
                                 (sources/g711.py, decode_audio below)
  'mp4'                        — REAL ISO-BMFF container demux
                                 (sources/mp4.py: sample table,
                                 keyframes, payload extraction);
                                 coded-frame decode is the stub
  'qoi'                        — REAL QOI (sources/qoi.py, public
                                 one-page spec): RGB/RGBA lossless;
                                 color collapses to BT.601 luminance
                                 like pngc/gif/bmp
  'fake'                       — deterministic pseudo-image from the
                                 byte hash (pipeline testing)
  'webp'/'mp3'                 — NotImplementedError (stub boundary)
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..sources import codec

REAL_FMTS = {"raw16", "rawf32", "png", "q8", "tiff", "jpeg", "pngc", "gif",
             "bmp", "qoi"}


def _luma(rgb: np.ndarray) -> np.ndarray:
    """BT.601 integer luminance (299r + 587g + 114b) // 1000 of the
    first three channels (alpha, if any, ignored)."""
    r, g, b = (rgb[..., k].astype(np.int64) for k in range(3))
    return (299 * r + 587 * g + 114 * b) // 1000


def decode_any(buf: bytes, fmt: str, w: int, h: int, ndv: float = -9999.0) -> np.ndarray:
    if fmt == "jpeg":
        from ..sources import jpeg

        return jpeg.decode_gray(buf).astype(np.float64)  # self-describing dims
    if fmt == "pngc":
        # full PNG (any depth/color-type/interlace, sources/png.py),
        # self-describing dims; color collapses to BT.601 integer
        # luminance so PNGs flow through the gray feature/phash stack
        from ..sources import png as _png

        arr = _png.decode(buf)
        if arr.ndim == 3:
            # gray + alpha keeps gray; RGB / RGBA collapse to luminance
            arr = arr[..., 0] if arr.shape[2] == 2 else _luma(arr)
        return arr.astype(np.float64)
    if fmt == "gif":
        # first composited frame -> BT.601 luminance (alpha ignored)
        from ..sources import gif as _gif

        return _luma(_gif.decode_frames(buf)[0]).astype(np.float64)
    if fmt == "bmp":
        from ..sources import bmp as _bmp

        img, m = _bmp.decode(buf)
        if m["palette"] is not None:
            img = m["palette"][img]
        if img.ndim == 3:
            img = _luma(img)
        return img.astype(np.float64)
    if fmt == "qoi":
        from ..sources import qoi as _qoi

        img, _m = _qoi.decode(buf)
        return _luma(img).astype(np.float64)
    if fmt in REAL_FMTS:
        return np.asarray(codec.decode_tile(buf, fmt, w, h, ndv), dtype=np.float64)
    if fmt == "fake":
        # deterministic pseudo-image: SHA-256 counter-mode expansion
        need = w * h
        out = np.empty(need, dtype=np.uint8)
        pos = 0
        ctr = 0
        while pos < need:
            d = hashlib.sha256(buf + ctr.to_bytes(4, "little")).digest()
            take = min(32, need - pos)
            out[pos : pos + take] = np.frombuffer(d[:take], dtype=np.uint8)
            pos += take
            ctr += 1
        return out.reshape(h, w).astype(np.float64)
    raise NotImplementedError(
        f"codec for fmt={fmt!r} not available in this environment; "
        "plug a real decoder into decode_any()"
    )


def image_features(images: DataFrame) -> DataFrame:
    """Per-image features: mean/std/min/max + 16-bin histogram entropy —
    one Arrow batch per partition, numpy per tile."""

    def kernel(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                a = decode_any(bytes(t.bytes), t.fmt, int(t.w), int(t.h),
                               float(getattr(t, "ndv", -9999.0)))
                valid = a[a != float(getattr(t, "ndv", -9999.0))]
                if valid.size == 0:
                    valid = np.zeros(1)
                hist, _ = np.histogram(valid, bins=16)
                p = hist / hist.sum()
                p = p[p > 0]
                rows.append(
                    {
                        "image_id": t.image_id,
                        "f_mean": round(float(valid.mean()), 6),
                        "f_std": round(float(valid.std()), 6),
                        "f_min": float(valid.min()),
                        "f_max": float(valid.max()),
                        "f_entropy": round(float(-(p * np.log2(p)).sum()), 6),
                    }
                )
            yield pd.DataFrame(rows)

    cols = [c for c in ("image_id", "bytes", "fmt", "w", "h", "ndv") if c in images.columns]
    return images.select(*cols).mapInPandas(
        kernel,
        schema="image_id string, f_mean double, f_std double, f_min double, "
        "f_max double, f_entropy double",
    )


def image_resize(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Block-mean resize (integer-factor) of decoded tiles; returns
    rawf32 thumbnails — the thumbnail/feature-extract pipeline shape."""

    def kernel(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                a = decode_any(bytes(t.bytes), t.fmt, int(t.w), int(t.h),
                               float(getattr(t, "ndv", -9999.0)))
                fy, fx = a.shape[0] // out_h, a.shape[1] // out_w
                small = a[: fy * out_h, : fx * out_w].reshape(out_h, fy, out_w, fx).mean(axis=(1, 3))
                rows.append(
                    {
                        "image_id": t.image_id,
                        "bytes": small.astype("<f4").tobytes(),
                        "w": out_w,
                        "h": out_h,
                        "fmt": "rawf32",
                    }
                )
            yield pd.DataFrame(rows)

    cols = [c for c in ("image_id", "bytes", "fmt", "w", "h", "ndv") if c in images.columns]
    return images.select(*cols).mapInPandas(
        kernel, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


def encode_multiband(arrs) -> bytes:
    """Concatenate band planes (each little-endian int16 row-major) —
    the multi-band analog of fmt='raw16' (band-sequential layout)."""
    return b"".join(np.ascontiguousarray(a, dtype="<i2").tobytes() for a in arrs)


def band_select(images: DataFrame, band: int) -> DataFrame:
    """Select one band from band-sequential multi-band tiles as a pure
    JVM substring on the binary column — no Python, no decode. The
    reference's band parameter (get_geo_info/create_geotiff band=1,
    georasters.py:86-98, :179-205) re-expressed for the tile table.
    Output rows are ordinary fmt='raw16' single-band tiles."""
    from pyspark.sql import functions as F

    plane = F.col("w") * F.col("h") * F.lit(2)  # int16 bytes per band
    return images.withColumn(
        "bytes", F.expr(f"substring(bytes, CAST(w * h * 2 * {band - 1} + 1 AS INT), CAST(w * h * 2 AS INT))")
    ).withColumn("fmt", F.lit("raw16")).withColumn("band", F.lit(band)).drop("n_bands")


# ---------------------------------------------------------------------------
# audio: REAL WAV codecs (hand-parsed RIFF in sources/g711.py — no
# external libs), shrinking the stub boundary to webp/mp3.
# ---------------------------------------------------------------------------

def encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Real RIFF/WAVE container, mono PCM16 little-endian (the RIFF
    writer in sources/g711.py). samples: int16-valued array."""
    from ..sources import g711

    fmt = struct.pack("<HHIIHH", 1, 1, rate, 2 * rate, 2, 16)
    data = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    return g711.riff_wave((b"fmt ", fmt), (b"data", data))


def decode_audio(buf: bytes, fmt: str) -> tuple[np.ndarray, int]:
    """Audio codec dispatch: 'wav' (PCM16 + G.711 mu-law/A-law + IMA
    ADPCM format tags via sources/g711.py and sources/adpcm.py) and
    'flac' (real from-scratch lossless codec, sources/flac.py) are
    REAL; mp3 stays the declared stub boundary."""
    if fmt == "wav":
        from ..sources import g711

        return g711.decode_wav_any(bytes(buf))
    if fmt == "flac":
        from ..sources import flac

        samples, rate = flac.decode_flac(bytes(buf))
        return samples[:, 0].astype(np.int16), rate  # mono leg
    raise NotImplementedError(
        f"audio codec for fmt={fmt!r} not available in this environment "
        "(no ffmpeg); 'wav' and 'flac' are supported via from-scratch codecs"
    )


def audio_features(audio: DataFrame, window_ms: int = 1000, hop_ms: int = 500) -> DataFrame:
    """Per-window audio features over REAL decoded WAV bytes: exact
    integer energy (Σ s², BIGINT), sample count, zero-crossing count
    (sign flips across consecutive in-window samples, sign := s >= 0),
    and rms = sqrt(energy/n) — shipped UNROUNDED: derived from exact
    integers with one division + sqrt, it is bit-identical on any
    engine computing the same expression. One Arrow pass; windows follow
    the audio_windows rule (start = i·hop, end = min(start+window,
    duration)). audio: (audio_id, bytes, fmt, duration_ms)."""

    def kernel(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                s, rate = decode_audio(t.bytes, t.fmt)
                dur = int(t.duration_ms)
                n_win = max(dur - window_ms, 0) // hop_ms + 1
                sl = s.astype(np.int64)
                for i in range(n_win):
                    a_ms = i * hop_ms
                    b_ms = min(a_ms + window_ms, dur)
                    # clamp to the DECODED length: a duration_ms that
                    # overstates the real clip must not fabricate
                    # n_samples for empty/short windows (silent wrong
                    # rms); counts always reflect actual samples
                    a = min(a_ms * rate // 1000, len(sl))
                    b = min(b_ms * rate // 1000, len(sl))
                    win = sl[a:b]
                    energy = int((win * win).sum())
                    pos = win >= 0
                    zcr = int((pos[1:] != pos[:-1]).sum())
                    n = int(b - a)
                    rows.append({
                        "audio_id": t.audio_id, "window_idx": i,
                        "start_ms": a_ms, "end_ms": b_ms,
                        "n_samples": n, "energy": energy, "zcr": zcr,
                        "rms": float(np.sqrt(energy / n)) if n else None,
                    })
            yield pd.DataFrame(rows, columns=[
                "audio_id", "window_idx", "start_ms", "end_ms",
                "n_samples", "energy", "zcr", "rms",
            ])

    return audio.select("audio_id", "bytes", "fmt", "duration_ms").mapInPandas(
        kernel,
        schema="audio_id long, window_idx long, start_ms long, end_ms long, "
               "n_samples long, energy long, zcr long, rms double",
    )


def audio_windows(audio: DataFrame, window_ms: int = 1000, hop_ms: int = 500) -> DataFrame:
    """Audio column plumbing: overlapping analysis windows per clip from
    (duration_ms, window/hop) — the STFT/feature-extraction batch shape.
    Pure Column math (sequence + transform). The WAV leg of the decode
    is REAL (decode_audio above); compressed formats (mp3/…) remain the
    stub boundary, like frame_sample for video."""
    from pyspark.sql import functions as F

    n = (F.greatest(F.col("duration_ms") - window_ms, F.lit(0)) / hop_ms).cast("int") + 1
    offs = F.transform(F.sequence(F.lit(0), n - 1), lambda i: (i * hop_ms).cast("long"))
    return audio.select(
        "audio_id", "duration_ms",
        F.posexplode(offs).alias("window_idx", "start_ms"),
    ).select(
        "audio_id", "window_idx", "start_ms",
        F.least(F.col("start_ms") + window_ms, F.col("duration_ms"))
        .cast("long").alias("end_ms"),
    )


def frame_sample(videos: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame sampling: deterministic frame offsets per video from
    (duration, n_frames); the real frame *extraction* is the stub
    boundary — the plan (explode offsets → per-frame rows keyed for a
    downstream decode join) is the production shape."""
    from pyspark.sql import functions as F

    offs = F.transform(
        F.sequence(F.lit(0), F.lit(n_frames - 1)),
        lambda i: (i * F.col("duration_ms") / n_frames).cast("long"),
    )
    return videos.select(
        "video_id",
        F.posexplode(offs).alias("frame_idx", "offset_ms"),
    )


def video_samples(videos: DataFrame) -> DataFrame:
    """REAL ISO-BMFF (MP4) demux per video — one row per coded sample:
    (video_id, sample_idx, byte_offset, byte_size, pts_ms, is_sync,
    checksum). The container layer (box walk, stsc x stco x stsz
    sample-table resolution, stss keyframes — sources/mp4.py) is fully
    implemented from ISO/IEC 14496-12; only decoding the coded-frame
    PAYLOAD remains the stub boundary (no video codec libraries).
    One Arrow pass, one task per batch of files — the same per-file
    parallelism shape as load_tiff."""

    def kernel(batches):
        from ..sources import mp4 as M

        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                _info, samples = M.extract_samples(bytes(t.bytes))
                for si, off, size, pts_ms, is_sync, payload in samples:
                    rows.append({
                        "video_id": t.video_id, "sample_idx": si,
                        "byte_offset": off, "byte_size": size,
                        "pts_ms": pts_ms, "is_sync": bool(is_sync),
                        "checksum": int(sum(payload)),
                    })
            yield pd.DataFrame(rows, columns=[
                "video_id", "sample_idx", "byte_offset", "byte_size",
                "pts_ms", "is_sync", "checksum"])

    return videos.select("video_id", "bytes").mapInPandas(
        kernel,
        schema="video_id long, sample_idx long, byte_offset long, "
               "byte_size long, pts_ms long, is_sync boolean, checksum long",
    )


def video_frames(videos: DataFrame, n_frames: int = 4) -> DataFrame:
    """REAL end-to-end video frame extraction for Motion-JPEG MP4s —
    no stub anywhere on this path: ISO-BMFF demux (sources/mp4.py)
    resolves the sample table, n_frames sync samples are picked evenly
    across the timeline, and each coded sample is decoded by the REAL
    JPEG codec (sources/jpeg.py). Emits per-frame dims + exact integer
    pixel sum (the lossy-codec audit travels in the psnr flag).
    Non-MJPEG codec fourccs raise NotImplementedError (the remaining
    video stub boundary is inter-frame codecs: avc1/hevc/vp9)."""

    def kernel(batches):
        from ..sources import jpeg as J
        from ..sources import mp4 as M

        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                info, samples = M.extract_samples(bytes(t.bytes))
                tr = info.tracks[0]
                if tr.codec not in ("mjpg", "jpeg", "mjpa", "MJPG"):
                    raise NotImplementedError(
                        f"video codec {tr.codec!r}: only Motion-JPEG decodes "
                        "in-sandbox (inter-frame codecs need ffmpeg-class libs)")
                sync = [s for s in samples if s[4]] or samples
                take = min(n_frames, len(sync))
                picks = [sync[i * len(sync) // take] for i in range(take)]
                for fi, (si, _off, _size, pts_ms, _is_sync, payload) in enumerate(picks):
                    img = J.decode_gray(payload)
                    rows.append({
                        "video_id": t.video_id, "frame_idx": fi,
                        "sample_idx": si, "pts_ms": pts_ms,
                        "w": int(img.shape[1]), "h": int(img.shape[0]),
                        "px_sum": int(img.astype(np.int64).sum()),
                    })
            yield pd.DataFrame(rows, columns=[
                "video_id", "frame_idx", "sample_idx", "pts_ms",
                "w", "h", "px_sum"])

    return videos.select("video_id", "bytes").mapInPandas(
        kernel,
        schema="video_id long, frame_idx long, sample_idx long, "
               "pts_ms long, w int, h int, px_sum long",
    )


def gif_frames(gifs: DataFrame) -> DataFrame:
    """REAL end-to-end animated-GIF decode (sources/gif.py): LZW
    (variable-width, CLEAR/END), 4-pass interlace, and full animation
    COMPOSITING — disposal + per-frame transparency resolved onto the
    logical-screen RGBA canvas, exactly what a player shows. One row
    per composited frame: (gif_id, frame_idx, delay_cs, w, h,
    checksum) where checksum is the position-weighted integer sum over
    every RGBA sample of the canvas — any wrong pixel anywhere in the
    LZW/interlace/transparency pipeline shifts it. GDAL reads GIF via
    its gif driver (reference georasters.py:281-291 accepts any
    gdal.Open-able raster); same per-file task shape as load_tiff."""

    def kernel(batches):
        from ..sources import gif as G

        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                buf = bytes(t.bytes)
                meta = G.parse(buf)
                canvases = G.decode_frames(buf, parsed=meta)
                h, w = meta["h"], meta["w"]
                pos = ((np.arange(h)[:, None, None] * w
                        + np.arange(w)[None, :, None]) * 4
                       + np.arange(4)[None, None, :])
                wgt = 1 + pos % 97
                for fi, canvas in enumerate(canvases):
                    rows.append({
                        "gif_id": t.gif_id, "frame_idx": fi,
                        "delay_cs": int(meta["frames"][fi]["delay_cs"]),
                        "w": w, "h": h,
                        "checksum": int((canvas.astype(np.int64) * wgt).sum()),
                    })
            yield pd.DataFrame(rows, columns=[
                "gif_id", "frame_idx", "delay_cs", "w", "h", "checksum"])

    return gifs.select("gif_id", "bytes").mapInPandas(
        kernel,
        schema="gif_id long, frame_idx long, delay_cs long, "
               "w int, h int, checksum long",
    )


# ---------------------------------------------------------------------------
# media lake ingest: binaryFile scan -> magic sniff -> typed media table
# ---------------------------------------------------------------------------

_MEDIA_MAGIC = (
    (b"\x89PNG\r\n\x1a\n", "pngc"),
    (b"GIF87a", "gif"), (b"GIF89a", "gif"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"II*\x00", "tiff"), (b"MM\x00*", "tiff"),
    (b"II+\x00", "tiff"), (b"MM\x00+", "tiff"),  # BigTIFF
    (b"RIFF", "wav"),  # refined below (RIFF....WAVE)
    (b"fLaC", "flac"),
    (b"qoif", "qoi"),
)


def sniff_media(buf: bytes) -> str:
    """Identify a media file by magic bytes: pngc/gif/jpeg/tiff/wav/
    flac/qoi/mp4/bmp, else 'unknown'. (MP4 magic is the ftyp box at offset 4.)"""
    for magic, fmt in _MEDIA_MAGIC:
        if buf[: len(magic)] == magic:
            if fmt == "wav" and buf[8:12] != b"WAVE":
                continue
            return fmt
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        return "mp4"
    if (len(buf) >= 54 and buf[:2] == b"BM"
            and int.from_bytes(buf[14:18], "little") >= 40):
        return "bmp"
    return "unknown"


def _probe_dims(buf: bytes, fmt: str) -> tuple[int, int]:
    """(w, h) from the HEADER ONLY — no pixel decode; (0, 0) for
    audio/container formats without raster dims."""
    import struct

    if fmt == "pngc":
        w, h = struct.unpack_from(">II", buf, 16)  # IHDR
        return int(w), int(h)
    if fmt == "gif":
        w, h = struct.unpack_from("<HH", buf, 6)  # logical screen
        return int(w), int(h)
    if fmt == "jpeg":
        pos = 2
        n = len(buf)
        while pos + 4 <= n:
            if buf[pos] != 0xFF:
                break
            marker = buf[pos + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2
                h, w = struct.unpack_from(">HH", buf, pos + 5)
                return int(w), int(h)
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", buf, pos + 2)
            pos += 2 + seglen
        return 0, 0
    if fmt == "tiff":
        from ..sources.geotiff import parse_dims

        return parse_dims(buf)
    if fmt == "bmp":
        w, h = struct.unpack_from("<ii", buf, 18)
        return int(w), int(abs(h))
    if fmt == "qoi":
        w, h = struct.unpack_from(">II", buf, 4)
        return int(w), int(h)
    return 0, 0


def load_media_files(spark, path: str) -> DataFrame:
    """Ingest a directory/glob of mixed media files (PNG/GIF/JPEG/TIFF/
    WAV/FLAC/MP4) into a typed media table: one Spark task per FILE
    (binaryFile source, the same per-file parallelism as load_tiff),
    format identified by magic sniff, raster dims probed from the
    HEADER only (no pixel decode on the ingest path — decode happens
    downstream in image_features/gif_frames/audio_features per fmt).
    At lake scale the scan parallelizes over files; nothing is
    collected."""

    def kernel(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                buf = bytes(rec.content)
                fmt = sniff_media(buf)
                w, h = (_probe_dims(buf, fmt)
                        if fmt in ("pngc", "gif", "jpeg", "tiff", "bmp", "qoi")
                        else (0, 0))
                rows.append({
                    "media_id": rec.path.rsplit("/", 1)[-1],
                    "source_path": rec.path,
                    "fmt": fmt,
                    "n_bytes": len(buf),
                    "w": w, "h": h,
                    "bytes": buf,
                })
            yield pd.DataFrame(rows, columns=[
                "media_id", "source_path", "fmt", "n_bytes", "w", "h",
                "bytes"])

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        kernel,
        schema="media_id string, source_path string, fmt string, "
               "n_bytes long, w int, h int, bytes binary",
    )
