"""Multimodal (binary) column operators: image/audio/video payloads as
opaque ``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

r2: the image decode is REAL for PPM (P6) and 24-bit BMP via the pure-numpy
codec in ``kernel.imagex`` (no PIL/libav in this container — these formats
need none). r3: baseline sequential JPEG is REAL too (``kernel.jpegx`` —
pure-numpy Huffman + IDCT, tables from the stream's own DQT/DHT, 4:2:0,
restart intervals AND progressive SOF2 multi-scan streams supported since
r4; round-trip pinned by pytest against the package's own encoders since no
PIL exists here to make fixtures), and so is 8-bit PNG (``kernel.pngx`` —
stdlib zlib + numpy unfilter, all five scanline filters,
gray/palette/RGB/RGBA, and since r4 16-bit depth + Adam7 interlacing).
r4 also made MJPEG-AVI video REAL (``kernel.videox`` RIFF walk over the
JPEG codec — see sample_frames) and WAV audio REAL (``kernel.wavx``, see
extract_audio_features). Remaining fallback-to-stub formats when
``fake=True`` (raise when ``fake=False``): arithmetic-coded/12-bit/
hierarchical JPEG, sub-8-bit PNG, non-MJPEG video codecs (H.26x/VP9 —
genuinely need libav) and compressed audio (MP3/AAC); nothing else
changes when those are swapped in.

Batch shape: mapInPandas receives Arrow record batches
(spark.sql.execution.arrow.maxRecordsPerBatch rows); each batch is processed
columnar-wise, features returned as a new DataFrame — one output row per
input row.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame

from ..kernel import imagex, round_half_up

FEATURES_SCHEMA = ("media_id long, n_bytes long, sha256 string, width int, "
                   "height int, mean_luma double")


def _decode_one(payload: bytes, fake: bool):
    """PPM/BMP: real decode (kernel.imagex). Unknown formats: deterministic
    sha-derived stub when fake=True (so plumbing tests run on arbitrary
    bytes), ValueError otherwise."""
    payload = bytes(payload)
    base = {"n_bytes": len(payload),
            "sha256": hashlib.sha256(payload).hexdigest()}
    try:
        img = imagex.decode_image(payload)
        return {**base, "width": int(img.shape[1]),
                "height": int(img.shape[0]),
                "mean_luma": imagex.mean_luma(img)}
    except ValueError:
        if not fake:
            raise
    h = int(base["sha256"][:8], 16)
    return {**base, "width": 16 + h % 1024, "height": 16 + (h >> 10) % 1024,
            "mean_luma": round((h % 255001) / 1000.0, 3)}


def extract_media_features(df: DataFrame, media_col: str, id_col: str,
                           fake: bool = True) -> DataFrame:
    """(id, binary) -> FEATURES_SCHEMA via Arrow-batched mapInPandas."""
    def run(batches):
        for pdf in batches:
            feats = [_decode_one(p, fake) for p in pdf[media_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf[id_col].to_numpy())
            yield out

    return df.select(id_col, media_col).mapInPandas(
        run, schema=FEATURES_SCHEMA)


def resize_images(df: DataFrame, media_col: str, id_col: str,
                  out_w: int = 64, out_h: int = 64,
                  fake: bool = True) -> DataFrame:
    """Resize: (id, binary) -> (id, out_w, out_h, thumb binary). PPM/BMP
    payloads get a REAL nearest-neighbor resample re-encoded as PPM
    (kernel.imagex.resize_nearest); unknown formats fall back to the
    deterministic byte-fold stub when fake=True."""
    import numpy as np

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[media_col]):
                payload = bytes(payload)
                try:
                    img = imagex.decode_image(payload)
                    thumb = imagex.encode_ppm(
                        imagex.resize_nearest(img, out_w, out_h))
                except ValueError:
                    if not fake:
                        raise
                    raw = np.frombuffer(payload or b"\0", dtype=np.uint8)
                    n = out_w * out_h
                    reps = int(np.ceil(n / max(len(raw), 1)))
                    thumb = np.tile(raw, reps)[:n].tobytes()
                rows.append((int(mid), out_w, out_h, thumb))
            yield pd.DataFrame(
                rows, columns=["media_id", "out_w", "out_h", "thumb"])

    return df.select(id_col, media_col).mapInPandas(
        run, schema="media_id long, out_w int, out_h int, thumb binary")


def sample_frames(df: DataFrame, media_col: str, id_col: str,
                  n_frames: int = 4, fake: bool = True) -> DataFrame:
    """Frame-sampling for video payloads: (id, binary) -> one row per
    sampled frame (id, frame_no, offset, frame binary).

    MJPEG-AVI payloads decode for REAL (kernel.videox RIFF walk +
    kernel.jpegx frames): ``n_frames`` evenly-spaced frames are decoded and
    re-encoded as PPM, ``offset`` is the true byte offset of the sampled
    frame's chunk. Other containers (H.26x/VP9/... — genuinely need libav)
    follow the fake/raise policy: evenly-spaced 256-byte payload slices
    when fake=True, NotImplementedError otherwise."""
    from ..kernel.videox import mjpeg_avi_frames
    from ..kernel.jpegx import decode_jpeg

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[media_col]):
                raw = bytes(payload)
                try:
                    chunks = mjpeg_avi_frames(raw)
                    step = max(len(chunks) // n_frames, 1)
                    picks = list(range(0, len(chunks), step))[:n_frames]
                    for f, ci in enumerate(picks):
                        off, jpeg = chunks[ci]
                        ppm = imagex.encode_ppm(decode_jpeg(jpeg))
                        rows.append((int(mid), f, off, ppm))
                    continue
                except ValueError:
                    pass                              # not MJPEG-AVI
                if not fake:
                    raise NotImplementedError(
                        "non-MJPEG-AVI video decode needs libav")
                if not raw:
                    continue
                step = max(len(raw) // n_frames, 1)
                for f in range(min(n_frames, len(raw))):
                    off = f * step
                    rows.append((int(mid), f, off, raw[off:off + 256]))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_no", "offset", "frame"])

    return df.select(id_col, media_col).mapInPandas(
        run, schema="media_id long, frame_no int, offset long, frame binary")


PIXEL_SIG_SCHEMA = "media_id long, width int, height int, pix_sha string"


def pixel_signatures(df: DataFrame, media_col: str, id_col: str,
                     on_error: str = "null") -> DataFrame:
    """Content-addressed signature of the DECODED image: (id, binary) ->
    (id, width, height, sha256 of ALL row-major interleaved RGB bytes —
    full-pixel, so images differing in any channel never collide).

    The point is cross-FORMAT exact image dedup for a training-data
    pipeline: the same pixels stored as PPM, BMP or PNG hash identically
    because the digest is over decoder output, not payload bytes (payload
    sha256 — extract_media_features — can't see through containers).
    Hashing the uppercase-hex encoding keeps the digest recomputable by a
    SQL oracle (DuckDB sha256 takes VARCHAR only; hex() is uppercase).
    mapInPandas keeps decode Arrow-batched and partition-parallel; output
    is one short row per image regardless of pixel count.

    ``on_error`` governs undecodable payloads (corrupt bytes, formats the
    pure-numpy codecs reject — video, arithmetic-coded JPEG, ...), so one
    bad row cannot fail the whole job, matching the siblings' fake/skip
    contract: "null" (default) emits the row with NULL width/height/pix_sha
    (NULL signatures never join into a dedup group), "skip" drops the row,
    "raise" keeps the old fail-fast behavior."""
    if on_error not in ("null", "skip", "raise"):
        raise ValueError("on_error must be 'null', 'skip' or 'raise'")

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[media_col]):
                try:
                    img = imagex.decode_image(bytes(payload))
                except ValueError:
                    if on_error == "raise":
                        raise
                    if on_error == "null":
                        rows.append((int(mid), None, None, None))
                    continue
                h, w = img.shape[0], img.shape[1]
                hx = img.tobytes().hex().upper()
                rows.append((int(mid), w, h,
                             hashlib.sha256(hx.encode()).hexdigest()))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "pix_sha"])

    return df.select(id_col, media_col).mapInPandas(
        run, schema=PIXEL_SIG_SCHEMA)


AUDIO_SCHEMA = ("media_id long, n_bytes long, sha256 string, "
                "sample_rate int, n_channels int, n_frames long, "
                "duration_s double, rms double, peak double")


def extract_audio_features(df: DataFrame, media_col: str, id_col: str,
                           fake: bool = True,
                           round_to: int = 6) -> DataFrame:
    """(id, binary WAV) -> AUDIO_SCHEMA via Arrow-batched mapInPandas —
    the audio leg of the media family, REAL decode via kernel.wavx (PCM +
    float WAV; no libav needed). rms/peak are computed over the decoded
    [-1, 1] float samples across all channels. Non-WAV payloads follow the
    siblings' fake/raise policy."""
    import hashlib

    import numpy as np

    from ..kernel.wavx import decode_wav

    def one(payload: bytes):
        payload = bytes(payload)
        base = {"n_bytes": len(payload),
                "sha256": hashlib.sha256(payload).hexdigest()}
        try:
            x, rate = decode_wav(payload)
        except ValueError:
            if not fake:
                raise
            h = int(base["sha256"][:8], 16)
            return {**base, "sample_rate": 8000 + h % 40000,
                    "n_channels": 1 + h % 2, "n_frames": 64 + h % 4096,
                    "duration_s": None, "rms": None, "peak": None}
        return {**base, "sample_rate": int(rate),
                "n_channels": int(x.shape[1]),
                "n_frames": int(x.shape[0]),
                "duration_s": round_half_up(x.shape[0] / rate, round_to),
                "rms": round_half_up(float(np.sqrt(np.mean(x * x))),
                                     round_to) if x.size else None,
                "peak": round_half_up(float(np.abs(x).max()), round_to)
                if x.size else None}

    def run(batches):
        for pdf in batches:
            rows = [one(p) for p in pdf[media_col]]
            out = pd.DataFrame(rows)
            out.insert(0, "media_id", pdf[id_col].to_numpy())
            yield out

    return df.mapInPandas(run, schema=AUDIO_SCHEMA)
