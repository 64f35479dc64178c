"""Multimodal columns: images/audio/video as opaque binary + metadata.

Round-3 upgrade: the decode kernels are REAL where a decoder exists in
the environment, and the dependency ladder is explicit per modality:

* images — PIL when importable (any format it knows); otherwise a
  pure-numpy PPM(P6)/PGM(P5) parser, a real on-disk format that needs
  no third-party library.  ``synth_media`` emits genuine PPM bytes, so
  the real decode path runs (and is tested) even in containers with no
  imaging stack.
* audio — stdlib ``wave`` + numpy for WAV/PCM (real decode, no
  dependency); ``soundfile`` when importable for other codecs.
* video — REAL for uncompressed YUV4MPEG2 (Y4M) streams: a genuine
  on-disk interchange format (what ``ffmpeg -f yuv4mpeg`` writes) that
  decodes with one numpy reshape per frame, no demuxer needed.
  ``synth_media`` emits genuine Y4M clips, so frame sampling and
  video features run the real path end-to-end here; compressed
  containers (mp4/webm) still degrade to a labeled byte-stats/slice
  fallback — an ffmpeg-class demuxer remains out of reach in this
  container, and failing the batch is never acceptable at scale.

Design rules for binary columns at 100 TB:

* media bytes ride in ONE binary column next to typed metadata columns
  (width/height/codec/...), so metadata predicates prune without
  touching bytes (parquet column pruning + min/max skipping);
* per-batch memory is bounded by rows-per-batch x max_media_bytes —
  callers size ``spark.sql.execution.arrow.maxRecordsPerBatch`` down
  when media is large (the 10k default assumes ~1 KB rows);
* feature extraction emits small fixed-size vectors; the heavy bytes
  are dropped as early as possible in the plan;
* kernels are batch-vectorized: a decoder call per ROW is inherent
  (bytes are row-opaque), but everything around it — fan-out, metadata,
  histograms — is numpy over the Arrow batch, never ``iterrows``.
"""

from __future__ import annotations

import io
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

try:  # optional: any-format image decode/resample
    from PIL import Image as _PILImage

    _HAS_PIL = True
except ImportError:  # pragma: no cover - absent in this container
    _PILImage = None
    _HAS_PIL = False

try:  # optional: non-WAV audio codecs
    import soundfile as _soundfile

    _HAS_SOUNDFILE = True
except ImportError:  # pragma: no cover - absent in this container
    _soundfile = None
    _HAS_SOUNDFILE = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FEATURE_DIM = 16


# --------------------------------------------------------------------
# image codec: PIL when present, pure-numpy PPM/PGM otherwise
# --------------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = a.shape[0], a.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def _decode_pnm(content: bytes) -> np.ndarray:
    """Pure-numpy decoder for binary PPM (P6, RGB) / PGM (P5, gray).
    Returns (H, W, 3) uint8; grayscale is broadcast to 3 channels."""
    magic = content[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary PPM/PGM (magic {magic!r})")
    # header = magic, width, height, maxval — whitespace separated,
    # '#' comments allowed between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PNM maxval {maxval}")
    ch = 3 if magic == b"P6" else 1
    pix = np.frombuffer(content, dtype=np.uint8, count=w * h * ch, offset=pos)
    arr = pix.reshape(h, w, ch)
    return np.repeat(arr, 3, axis=2) if ch == 1 else arr


def decode_image(content: bytes) -> np.ndarray:
    """bytes -> (H, W, 3) uint8.  PIL for any format it knows when
    importable; the no-dependency PPM/PGM path otherwise."""
    if _HAS_PIL:
        img = _PILImage.open(io.BytesIO(content)).convert("RGB")
        return np.asarray(img, dtype=np.uint8)
    return _decode_pnm(content)


def resize_array(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample via numpy index arrays — a real resize
    kernel (no library needed), vectorized over the whole image."""
    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(height) * (h / height)).astype(np.intp)
    cols = (np.arange(width) * (w / width)).astype(np.intp)
    return arr[rows][:, cols]


# --------------------------------------------------------------------
# audio codec: stdlib wave for WAV/PCM, soundfile when importable
# --------------------------------------------------------------------

def encode_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode mono float32 [-1, 1] samples as 16-bit PCM WAV."""
    import wave

    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(pcm.tobytes())
    return buf.getvalue()


def decode_audio(content: bytes) -> np.ndarray:
    """bytes -> mono float32 samples in [-1, 1].  Stdlib ``wave`` for
    WAV (real decode, no dependency); soundfile for other codecs when
    importable."""
    import wave

    try:
        with wave.open(io.BytesIO(content), "rb") as f:
            n, width, ch = f.getnframes(), f.getsampwidth(), f.getnchannels()
            raw = f.readframes(n)
        if width == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
        elif width == 1:  # unsigned 8-bit PCM
            x = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0
            ) / 128.0
        else:
            raise ValueError(f"unsupported PCM width {width}")
        return x.reshape(-1, ch).mean(axis=1) if ch > 1 else x
    except wave.Error:
        if _HAS_SOUNDFILE:  # pragma: no cover - absent in this container
            data, _ = _soundfile.read(io.BytesIO(content), dtype="float32")
            return data.mean(axis=1) if data.ndim > 1 else data
        raise ValueError(
            "not a WAV stream and no soundfile library available"
        ) from None


# --------------------------------------------------------------------
# feature kernels (deterministic, fixed-dim)
# --------------------------------------------------------------------

def image_features(arr: np.ndarray) -> np.ndarray:
    """Luminance histogram folded to FEATURE_DIM bins, L1-normalized."""
    lum = (
        0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
    ).astype(np.int64)
    hist = np.bincount(
        ((lum * FEATURE_DIM) // 256).ravel(), minlength=FEATURE_DIM
    ).astype(np.float32)[:FEATURE_DIM]
    return hist / max(hist.sum(), 1.0)


def audio_features(samples: np.ndarray) -> np.ndarray:
    """Per-segment RMS energy over FEATURE_DIM equal slices, L1-normed."""
    if len(samples) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    seg = np.array_split(samples.astype(np.float64), FEATURE_DIM)
    rms = np.array(
        [np.sqrt(np.mean(s * s)) if len(s) else 0.0 for s in seg],
        dtype=np.float32,
    )
    return rms / max(rms.sum(), 1.0)


# --------------------------------------------------------------------
# video codec: uncompressed YUV4MPEG2 (Y4M), pure numpy
# --------------------------------------------------------------------
#
# Y4M is a real on-disk interchange format (mjpegtools lineage; what
# ffmpeg emits with `-f yuv4mpeg`): a plain-text stream header, then
# `FRAME\n` + one raw planar YCbCr image per frame.  Like the PPM
# path for images, it needs NO third-party demuxer — which makes the
# video decode path real end-to-end in this container.

def _rgb_to_ycbcr(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(H, W, 3) uint8 RGB -> full-range BT.601 Y, Cb, Cr planes."""
    f = arr.astype(np.float32)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    clip = lambda p: np.clip(np.rint(p), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(cb), clip(cr)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """Full-range BT.601 planes -> (H, W, 3) uint8 RGB."""
    yf = y.astype(np.float32)
    cbf = cb.astype(np.float32) - 128.0
    crf = cr.astype(np.float32) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def encode_y4m(frames: np.ndarray, fps: int = 4) -> bytes:
    """Encode (K, H, W, 3) uint8 RGB frames as a YUV4MPEG2 stream
    (C444 — no chroma subsampling, so decode is exact plane math)."""
    k, h, w = frames.shape[0], frames.shape[1], frames.shape[2]
    out = [b"YUV4MPEG2 W%d H%d F%d:1 Ip A0:0 C444\n" % (w, h, fps)]
    for i in range(k):
        y, cb, cr = _rgb_to_ycbcr(frames[i])
        out.append(b"FRAME\n")
        out.append(y.tobytes())
        out.append(cb.tobytes())
        out.append(cr.tobytes())
    return b"".join(out)


def decode_y4m(content: bytes) -> tuple[np.ndarray, int]:
    """YUV4MPEG2 bytes -> ((K, H, W, 3) uint8 RGB, fps).  C444 only
    (what :func:`encode_y4m` writes); malformed input raises."""
    if not content.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = content.index(b"\n")
    w = h = fps = None
    for tok in content[9:nl].split():
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps = max(int(round(int(num) / max(int(den), 1))), 1)
        elif tok[:1] == b"C" and tok not in (b"C444",):
            raise ValueError(f"unsupported Y4M colourspace {tok!r}")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    plane = w * h
    frames, pos = [], nl + 1
    while pos < len(content):
        fnl = content.index(b"\n", pos)
        if content[pos : pos + 5] != b"FRAME":
            raise ValueError("bad Y4M frame marker")
        pos = fnl + 1
        raw = np.frombuffer(content, dtype=np.uint8, count=3 * plane, offset=pos)
        y, cb, cr = (
            raw[:plane].reshape(h, w),
            raw[plane : 2 * plane].reshape(h, w),
            raw[2 * plane :].reshape(h, w),
        )
        frames.append(_ycbcr_to_rgb(y, cb, cr))
        pos += 3 * plane
    return np.stack(frames) if frames else np.zeros(
        (0, h, w, 3), dtype=np.uint8
    ), fps or 4


def _fake_decode(content: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in for rows no real kernel can decode
    (video, or corrupt bytes): a 16-dim feature from byte statistics.
    Stable across runs/engines."""
    if content is None or len(content) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float32)
    return hist / max(hist.sum(), 1.0)


def _default_decode(content: bytes, kind: str) -> np.ndarray:
    """Modality dispatch: real image/audio/Y4M-video kernels, with a
    labeled byte-stats fallback for undecodable bytes (compressed
    video containers still need an ffmpeg-class demuxer this
    container lacks)."""
    if content is None or len(content) == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    try:
        if kind == "image":
            return image_features(decode_image(bytes(content)))
        if kind == "audio":
            return audio_features(decode_audio(bytes(content)))
        if kind == "video":
            frames, _ = decode_y4m(bytes(content))
            if len(frames):
                # mean frame -> the image kernel: temporal average is
                # the cheapest whole-clip summary that stays 16-dim
                mean = np.clip(
                    np.rint(frames.astype(np.float32).mean(axis=0)),
                    0, 255,
                ).astype(np.uint8)
                return image_features(mean)
    except (ValueError, OSError):
        pass  # corrupt/unknown container: fall through to byte stats
    return _fake_decode(content, kind)


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], np.ndarray] | None = None,
) -> DataFrame:
    """binary media -> (media_id, kind, n_bytes, feature[16]).

    ``mapInPandas`` streams Arrow batches through the decoder; the
    output drops the bytes so everything downstream is small.  The
    default decoder is REAL for images (PIL or pure-numpy PPM/PGM)
    and audio (stdlib WAV, soundfile when importable) and falls back
    to deterministic byte statistics for video/undecodable rows.
    """
    decode = decode_fn or _default_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(c, k).tolist()
                for c, k in zip(pdf["content"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize over the binary column: decode (PIL or PPM
    path) → resample → re-encode as PPM, restamping width/height/mime.
    Non-image rows and undecodable bytes pass through unchanged — at
    scale you want the bad row quarantined by a downstream audit, not
    the batch failed."""

    def one(content, kind):
        if kind != "image" or content is None:
            return content, None
        try:
            arr = decode_image(bytes(content))
        except (ValueError, OSError):
            return content, None
        if _HAS_PIL:  # pragma: no cover - absent in this container
            img = _PILImage.fromarray(arr).resize(
                (width, height), _PILImage.BILINEAR
            )
            return encode_ppm(np.asarray(img, dtype=np.uint8)), "image/x-portable-pixmap"
        return (
            encode_ppm(resize_array(arr, width, height)),
            "image/x-portable-pixmap",
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            pairs = [
                one(c, k) for c, k in zip(pdf["content"], pdf["kind"])
            ]
            resized = np.array([p[1] is not None for p in pairs])
            out["content"] = [p[0] for p in pairs]
            out["mime"] = np.where(
                resized, "image/x-portable-pixmap", pdf["mime"]
            )
            out["width"] = np.where(resized, width, pdf["width"]).astype("int32")
            out["height"] = np.where(resized, height, pdf["height"]).astype(
                "int32"
            )
            yield out

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def frame_sample(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame sampling: one output row per sampled offset
    (0, every_ms, 2*every_ms, ... across duration_ms), each carrying
    the nearest decoded frame re-encoded as PPM — directly consumable
    by the image kernels downstream.

    REAL for Y4M payloads (the uncompressed format ``synth_media``
    emits; :func:`decode_y4m` is one numpy reshape per clip, done
    ONCE per video row no matter how many offsets sample it).
    Opaque/compressed containers (no demuxer in this environment)
    degrade to a deterministic byte-slice per offset rather than
    failing the batch.  The fan-out stays vectorized: one np.repeat
    per Arrow batch, a decode per VIDEO row, never a Python loop per
    frame."""

    frame_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_ms", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            durs = pdf["duration_ms"].fillna(0).astype(int).to_numpy()
            n_frames = np.maximum((durs + every_ms - 1) // every_ms, 0)
            idx = np.repeat(np.arange(len(pdf)), n_frames)
            # per-frame offset: global arange minus each row's start
            starts = np.repeat(
                np.concatenate(([0], np.cumsum(n_frames)[:-1])), n_frames
            )
            frame_i = np.arange(len(idx)) - starts
            contents = pdf["content"].to_numpy()

            # one decode per VIDEO ROW (memoized), then O(1) per offset
            decoded: dict[int, tuple[np.ndarray, int] | None] = {}

            def clip_frames(row_i: int):
                if row_i not in decoded:
                    b = contents[row_i]
                    try:
                        decoded[row_i] = decode_y4m(bytes(b)) if b else None
                    except (ValueError, OSError):
                        decoded[row_i] = None
                return decoded[row_i]

            def frame_at(row_i: int, fi: int):
                clip = clip_frames(row_i)
                if clip is not None and len(clip[0]):
                    frames, fps = clip
                    j = min(fi * every_ms * fps // 1000, len(frames) - 1)
                    return encode_ppm(frames[j])
                b = contents[row_i]  # opaque container: labeled fallback
                if b is None or not len(b):
                    return None
                j = fi % max(len(b), 1)
                return bytes(b[j : j + 16])

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[idx],
                    "frame_ms": frame_i * every_ms,
                    "content": [
                        frame_at(r, f) for r, f in zip(idx, frame_i)
                    ],
                }
            )

    return media.filter("kind = 'video'").mapInPandas(run, schema=frame_schema)


def synth_media(spark, n: int = 64, seed: int = 3) -> DataFrame:
    """Deterministic fake media table with REAL container bytes:
    images are genuine binary PPMs, audio rows are genuine 16-bit
    WAVs, and video rows are genuine Y4M clips — every modality's real
    decode kernel exercises end-to-end with no third-party media
    library in the environment."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    mimes = {
        "image": "image/x-portable-pixmap",
        "audio": "audio/wav",
        "video": "video/x-yuv4mpeg",
    }
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        w = h = dur = None
        if kind == "image":
            w = int(rng.integers(16, 64))
            h = int(rng.integers(16, 64))
            arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            content = encode_ppm(arr)
        elif kind == "audio":
            dur = int(rng.integers(1000, 4000))
            t = np.arange(int(8000 * dur / 1000)) / 8000.0
            freq = float(rng.integers(100, 800))
            samples = 0.5 * np.sin(2 * np.pi * freq * t) + 0.1 * rng.standard_normal(
                len(t)
            )
            content = encode_wav(samples.astype(np.float32))
        else:
            dur = int(rng.integers(1000, 20000))
            fps = 4
            k = max(dur * fps // 1000, 1)
            w, h = 8, 8
            frames = rng.integers(
                0, 256, size=(k, h, w, 3), dtype=np.uint8
            )
            content = encode_y4m(frames, fps=fps)
            w = h = None  # video metadata rides duration_ms only
        rows.append(
            (i, kind, bytearray(content), mimes[kind], w, h, dur)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
