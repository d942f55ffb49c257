"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched kernels.

This is the graft rendering of the reference's image preprocessing stack
(``/root/reference/src/br_doc_ocr/services/preprocessing.py``): load (S1) →
normalize (M5) → resize (M4) → orientation (M6) → multi-crop (M7/M8) — with
the pixel work behind a pluggable decoder. The Spark-side plumbing — schema,
partitioning, UDF signatures, Arrow batch shapes — is real and tested; the
decoder is either

- :class:`FakeDecoder` (default): deterministic bytes→"pixels" synthesis so
  every downstream stage (resize / orient / frame-sample / feature-extract)
  runs end-to-end with checkable numbers, or
- :class:`MediaDecoder`: REAL decode through one codec table that maps a
  payload's magic bytes to (modality, decode function) — PNG (:mod:`pngio`)
  and baseline JPEG (:mod:`jpegio`) images, RIFF/WAVE audio (:mod:`wavio`,
  mono downmix) and MJPG/DIB-in-AVI video (:mod:`aviio`), all with no
  external dependency. PIL is an override consulted only for image magic
  the table does not know, so table formats give the same pixels whether
  or not PIL is installed. Every other payload — unknown magic, or a
  format of the wrong modality for its row — raises ``ValueError`` naming
  its leading bytes and the library that would decode it (PIL,
  torchaudio/soundfile or PyAV), which ``on_error='skip'`` quarantines.

Schema:

    media(media_id long, kind string in {image,audio,video},
          payload binary,
          meta struct<width:int, height:int, n_frames:int,
                      sample_rate:int, format:string>)
"""

from __future__ import annotations

import hashlib
import io
from functools import lru_cache
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from br_doc_ocr_spark.ops import aviio, jpegio, pngio, wavio

MEDIA_SCHEMA_DDL = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, "
    "format:string>"
)

MAX_DIMENSION = 1024  # reference resize cap (preprocessing.py:66-96)


# ---------------------------------------------------------------------------
# Decoders
# ---------------------------------------------------------------------------

class FakeDecoder:
    """Deterministic payload→array synthesis: a blake2b keystream shaped by
    the metadata. Every byte of output is a pure function of (payload, meta),
    so resize/orient/feature stages have exact, replayable expectations."""

    @staticmethod
    def _keystream(payload: bytes, n: int) -> np.ndarray:
        out = np.empty(n, dtype=np.uint8)
        pos = 0
        counter = 0
        while pos < n:
            block = hashlib.blake2b(payload, digest_size=64,
                                    salt=counter.to_bytes(8, "big")).digest()
            take = min(64, n - pos)
            out[pos:pos + take] = np.frombuffer(block[:take], dtype=np.uint8)
            pos += take
            counter += 1
        return out

    def decode_image(self, payload: bytes, width: int, height: int) -> np.ndarray:
        """→ uint8 array (height, width, 3)."""
        return self._keystream(payload, height * width * 3).reshape(
            height, width, 3)

    def decode_audio(self, payload: bytes, n_samples: int) -> np.ndarray:
        """→ float32 waveform in [-1, 1)."""
        raw = self._keystream(payload, n_samples)
        return (raw.astype(np.float32) - 128.0) / 128.0

    def decode_video_frame(self, payload: bytes, frame_idx: int,
                           width: int, height: int) -> np.ndarray:
        frame_payload = payload + frame_idx.to_bytes(4, "big")
        return self.decode_image(frame_payload, width, height)


def _with_dims(img: np.ndarray) -> tuple[np.ndarray, str]:
    return img, f"{img.shape[1]}x{img.shape[0]}"


def _wav_mono(payload: bytes, _frame_idx: int) -> tuple[np.ndarray, str]:
    # multi-channel audio downmixes to mono by channel mean (deterministic)
    wave, rate = wavio.decode_wav(payload)
    return wave.mean(axis=1), f"sample_rate={rate}"


# The one table of dependency-free formats: (leading bytes, RIFF form type
# at offset 8 — b"" matches any) → (name, modality, decode), where
# decode(payload, frame_idx) → (array, the metadata the file declares).
_CODECS = {
    (b"\x89PNG\r\n\x1a\n", b""): (
        "PNG", "image", lambda p, _i: _with_dims(pngio.decode_png(p))),
    (b"\xff\xd8", b""): (
        "JPEG", "image", lambda p, _i: _with_dims(jpegio.decode_jpeg(p))),
    (b"RIFF", b"WAVE"): ("WAV", "audio", _wav_mono),
    (b"RIFF", b"AVI "): (
        "AVI", "video",
        lambda p, i: _with_dims(aviio.decode_avi_frame(p, i))),
}

# the library a production deployment installs for each modality's other
# formats; only the image one (PIL, the reference's own dependency) is wired
_LIBRARIES = {"image": "PIL", "audio": "torchaudio/soundfile",
              "video": "PyAV"}


def _pil_decode(payload: bytes) -> tuple[np.ndarray, str] | None:
    """The PIL override for image magic the table does not know; None when
    PIL is not installed."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError:
        return None
    img = Image.open(io.BytesIO(payload))
    # ANY alpha source (RGBA, LA, PA, palette with tRNS transparency)
    # composites on white — normalize_image M5, and the same pixels the
    # dependency-free codecs produce for the same bytes (a plain
    # convert('RGB') would DROP alpha instead of compositing it)
    if img.mode in ("RGBA", "LA", "PA") or (
            img.mode == "P" and "transparency" in img.info):
        img = img.convert("RGBA")
        bg = Image.new("RGB", img.size, (255, 255, 255))
        bg.paste(img, mask=img.split()[3])
        img = bg
    elif img.mode != "RGB":
        img = img.convert("RGB")
    return _with_dims(np.asarray(img, dtype=np.uint8))


def _check_metadata(name: str, meta: str, decoded: str) -> None:
    """The one decoded-vs-metadata contract: the file's own dimensions
    (image, video) or sample rate (audio) are authoritative. A mislabeled
    row is refused rather than silently mis-shaping downstream features — a
    decode smaller than its metadata would otherwise IndexError OUTSIDE the
    kernels' (ValueError, OSError) quarantine, and a larger one would
    feature-extract a top-left crop (review r05)."""
    if decoded != meta:
        raise ValueError(
            f"mismatched metadata: media metadata says {meta} but the "
            f"{name} payload decodes to {decoded} — refusing to "
            f"feature-extract mislabeled media")


def _decode(payload: bytes, modality: str, meta: str,
            frame_idx: int = 0) -> np.ndarray:
    name, kind, decode = next(
        (codec for (magic, form), codec in _CODECS.items()
         if payload.startswith(magic) and payload[8:12].startswith(form)),
        (None, None, None))
    if kind == modality:
        arr, decoded = decode(payload, frame_idx)
    elif (kind is None and modality == "image"
          and (pil := _pil_decode(payload)) is not None):
        name, (arr, decoded) = "PIL", pil
    else:
        sniffed = ("unknown magic" if kind is None
                   else f"{name} magic, a {kind} format")
        known = ", ".join(f"{n}: {m}" for n, m, _ in _CODECS.values())
        raise ValueError(
            f"unrecognized {modality} payload ({sniffed}, leading bytes "
            f"{payload[:12].hex()}); the built-in codecs decode {known}; "
            f"other {modality} formats need {_LIBRARIES[modality]}")
    _check_metadata(name, meta, decoded)
    return arr


class MediaDecoder:
    """REAL decode for every modality through the codec table (see the
    module docstring): one kernel run handles a mixed-format media table
    without a per-format pre-partition. Images decode to uint8 RGB
    (grayscale replicated, alpha composited on white — normalize_image M5),
    audio to a float mono waveform, video to one RGB frame per call."""

    def decode_image(self, payload: bytes, width: int, height: int) -> np.ndarray:
        return _decode(payload, "image", f"{width}x{height}")

    def decode_audio(self, payload: bytes, n_samples: int) -> np.ndarray:
        """``n_samples`` is the metadata sample rate (one second of audio),
        checked against the file header's rate."""
        return _decode(payload, "audio", f"sample_rate={n_samples}")

    def decode_video_frame(self, payload: bytes, frame_idx: int,
                           width: int, height: int) -> np.ndarray:
        return _decode(payload, "video", f"{width}x{height}", frame_idx)


# ---------------------------------------------------------------------------
# Kernels (mapInPandas — Arrow batches in, Arrow batches out)
# ---------------------------------------------------------------------------

IMAGE_FEATURES_DDL = (
    "media_id long, out_width int, out_height int, "
    "mean_intensity double, band_means array<double>, phash long"
)


def _resize_dims(width: int, height: int, max_dim: int = MAX_DIMENSION
                 ) -> tuple[int, int]:
    """Aspect-preserving downscale to max_dim, never upscale — the exact
    resize contract of preprocessing.py:66-96."""
    longest = max(width, height)
    if longest <= max_dim:
        return width, height
    scale = max_dim / longest
    return max(int(width * scale), 1), max(int(height * scale), 1)


def _phash(gray: np.ndarray) -> int:
    """8x8 average-hash (classic pHash-lite) as a signed 64-bit int: an 8x8
    STRIDED downsample of the whole plane, thresholded on its mean. (The
    raw top-left 8x8 corner of a real, smooth frame is near-uniform, which
    made phash-based frame dedup useless — review r05.)"""
    h, w = gray.shape
    tiny = gray[(np.arange(8) * (h / 8)).astype(int)][
        :, (np.arange(8) * (w / 8)).astype(int)]
    return int.from_bytes(np.packbits(tiny > tiny.mean()).tobytes(), "big",
                          signed=True)


def _media_kernel(decoder, on_error: str, ddl: str,
                  featurize: Callable[..., list[tuple]]):
    """The per-batch loop the three kernels share: ``featurize(decoder,
    media_id, payload, meta)`` returns one media's output rows.

    ``on_error='skip'`` quarantines corrupt payloads at MEDIA granularity:
    a decode ValueError/OSError drops every row of that media (for video,
    ALL its frames — a half-sampled video would silently skew frame-level
    dedup/aggregation) instead of failing the task. At cluster scale one
    bad blob must not kill a 128 MB scan partition after retry exhaustion
    (SCALE.md "Multimodal decode"). OSError too: PIL's
    UnidentifiedImageError subclasses OSError, not ValueError (ADVICE r04).
    The default stays ``'raise'``: small curated corpora should fail
    loudly."""
    decoder = decoder or FakeDecoder()
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    columns = [field.split()[0] for field in ddl.split(",")]

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for media_id, payload, meta in zip(batch["media_id"],
                                               batch["payload"], batch["meta"]):
                try:
                    rows += featurize(decoder, int(media_id), bytes(payload),
                                      meta)
                except (ValueError, OSError):
                    if on_error == "skip":
                        continue
                    raise
            yield pd.DataFrame(rows, columns=columns)

    return run


def image_feature_kernel(decoder=None, on_error: str = "raise"):
    """decode → resize → per-band means → perceptual hash, one row per
    image (quarantine contract: :func:`_media_kernel`)."""

    def featurize(decoder, media_id, payload, meta):
        w, h = int(meta["width"]), int(meta["height"])
        img = decoder.decode_image(payload, w, h)
        ow, oh = _resize_dims(w, h)
        # nearest-neighbor resize via index striding (vectorized)
        yi = (np.arange(oh) * (h / oh)).astype(int)
        xi = (np.arange(ow) * (w / ow)).astype(int)
        small = img[yi][:, xi]
        return [(media_id, ow, oh, float(small.mean()),
                 [float(small[:, :, c].mean()) for c in range(3)],
                 _phash(small.mean(axis=2)))]

    return _media_kernel(decoder, on_error, IMAGE_FEATURES_DDL, featurize)


AUDIO_FEATURES_DDL = (
    "media_id long, n_samples int, rms double, zero_crossings int, "
    "frame_energy array<double>"
)


def audio_feature_kernel(decoder=None, frame_size: int = 1024,
                         on_error: str = "raise"):
    """decode → RMS / zero-crossing / framed energy, one row per clip
    (quarantine contract: :func:`_media_kernel`). ``n_samples`` reports the
    DECODED length — for :class:`FakeDecoder` that equals the metadata
    rate by construction; for real WAV payloads it is the file's truth."""

    def featurize(decoder, media_id, payload, meta):
        # the metadata rate doubles as the length of one second of audio
        wave = decoder.decode_audio(payload, int(meta["sample_rate"]))
        n_out = int(wave.shape[0])
        zc = int(np.sum(np.signbit(wave[1:]) != np.signbit(wave[:-1])))
        n_frames = max(n_out // frame_size, 1)
        energy = [float(np.sqrt(np.mean(
            wave[i * frame_size:(i + 1) * frame_size] ** 2)))
            for i in range(n_frames)]
        return [(media_id, n_out, float(np.sqrt(np.mean(wave ** 2))), zc,
                 energy)]

    return _media_kernel(decoder, on_error, AUDIO_FEATURES_DDL, featurize)


VIDEO_FRAMES_DDL = (
    "media_id long, frame_idx int, mean_intensity double, phash long"
)


def video_frame_sample_kernel(decoder=None, every_nth: int = 10,
                              on_error: str = "raise"):
    """frame-sample (every_nth) → per-frame decode → intensity + hash.
    1→N flatMap: one output row per sampled frame (M7 explode shape;
    quarantine contract: :func:`_media_kernel`)."""

    def featurize(decoder, media_id, payload, meta):
        w, h = int(meta["width"]), int(meta["height"])
        rows = []
        for frame_idx in range(0, int(meta["n_frames"]), every_nth):
            frame = decoder.decode_video_frame(payload, frame_idx, w, h)
            rows.append((media_id, frame_idx, float(frame.mean()),
                         _phash(frame.mean(axis=2))))
        return rows

    return _media_kernel(decoder, on_error, VIDEO_FRAMES_DDL, featurize)


# ---------------------------------------------------------------------------
# DataFrame-level API
# ---------------------------------------------------------------------------

def image_features(media: DataFrame, decoder=None,
                   on_error: str = "raise") -> DataFrame:
    imgs = media.filter(media.kind == "image")
    return imgs.mapInPandas(image_feature_kernel(decoder, on_error),
                            schema=IMAGE_FEATURES_DDL)


def audio_features(media: DataFrame, decoder=None,
                   on_error: str = "raise") -> DataFrame:
    auds = media.filter(media.kind == "audio")
    return auds.mapInPandas(audio_feature_kernel(decoder, on_error=on_error),
                            schema=AUDIO_FEATURES_DDL)


def sample_video_frames(media: DataFrame, decoder=None,
                        every_nth: int = 10,
                        on_error: str = "raise") -> DataFrame:
    vids = media.filter(media.kind == "video")
    return vids.mapInPandas(
        video_frame_sample_kernel(decoder, every_nth, on_error=on_error),
        schema=VIDEO_FRAMES_DDL)


def _synth_gradient(i: int, width: int, height: int) -> np.ndarray:
    """The shared seeded RGB gradient recipe behind both real-codec synth
    corpora — one definition so the PNG and JPEG test images cannot drift."""
    x = np.arange(width, dtype=np.uint32)
    y = np.arange(height, dtype=np.uint32)[:, None]
    return np.stack([
        ((x + 7 * i) % 256 + 0 * y).astype(np.uint8)
        + np.zeros((height, width), np.uint8),
        ((y * 3 + i) % 256).astype(np.uint8)
        + np.zeros((height, width), np.uint8),
        ((x[None, :] + y * 2 + i * 13) % 256).astype(np.uint8),
    ], axis=2)


def _synth_media_df(spark: SparkSession, rows: tuple) -> DataFrame:
    """Cached-rows → DataFrame. Meta dicts are copied per call so a cached
    tuple can never be mutated through a returned frame; payloads are
    immutable ``bytes`` already."""
    import pandas as pd  # noqa: F811

    pdf = pd.DataFrame(
        [(mid, kind, payload, dict(meta)) for mid, kind, payload, meta in rows],
        columns=["media_id", "kind", "payload", "meta"])
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA_DDL)


@lru_cache(maxsize=4)
def _synth_png_rows(n: int) -> tuple:
    from br_doc_ocr_spark.ops import pngio

    rows = []
    for i in range(n):
        width = 96 + (i % 5) * 288   # 96..1248: crosses MAX_DIMENSION
        height = 64 + (i % 7) * 192
        img = _synth_gradient(i, width, height)
        rows.append((i, "image", pngio.encode_png(img), (
            ("width", width), ("height", height), ("n_frames", 1),
            ("sample_rate", 0), ("format", "png"))))
    return tuple(rows)


def synth_png_media(spark: SparkSession, n: int = 12) -> DataFrame:
    """Deterministic REAL-PNG media table: seeded RGB gradient images
    encoded to actual PNG bytes (pngio.encode_png), metadata matching the
    encoded dimensions — the e2e PNG corpus for :class:`MediaDecoder`.
    Dimensions cross MAX_DIMENSION so the resize path is exercised on real
    decodes.

    Payload rows are lru-cached: the corpora are pure functions of their
    parameters and the pure-Python encoders dominate the driver-side cost
    of a repeat invocation (~1.1 s/call across the three image/video
    corpora), so the catalog query and best-of-N bench pay encode once per
    process, not once per run."""
    return _synth_media_df(spark, _synth_png_rows(n))


def synth_jpeg_media(spark: SparkSession, n: int = 8,
                     start_id: int = 0) -> DataFrame:
    """Deterministic REAL-JPEG media table: seeded RGB gradients encoded to
    actual baseline-JFIF bytes (jpegio.encode_jpeg), alternating 4:4:4 and
    4:2:0 so the decoder's chroma-upsample path is exercised; metadata
    matches the encoded dimensions. Sizes stay modest because the frozen
    catalog goldens pin these exact images (the resize-above-cap path is
    exercised on real bytes by the PNG corpus); decode throughput is no
    longer the constraint — the r05 LUT entropy decoder measures ~0.8 MB/s
    of compressed input per core (bench.py `jpeg_decode_mb_s`). Rows are
    lru-cached (see :func:`synth_png_media`)."""
    return _synth_media_df(spark, _synth_jpeg_rows(n, start_id))


@lru_cache(maxsize=4)
def _synth_jpeg_rows(n: int, start_id: int) -> tuple:
    from br_doc_ocr_spark.ops import jpegio

    rows = []
    for i in range(n):
        width = 96 + (i % 5) * 48    # 96..288
        height = 64 + (i % 7) * 32   # 64..256
        img = _synth_gradient(i, width, height)
        sub = "4:2:0" if i % 2 else "4:4:4"
        payload = jpegio.encode_jpeg(img, quality=90, subsampling=sub)
        rows.append((start_id + i, "image", payload, (
            ("width", width), ("height", height), ("n_frames", 1),
            ("sample_rate", 0), ("format", "jpeg"))))
    return tuple(rows)


def synth_wav_media(spark: SparkSession, n: int = 8,
                    start_id: int = 0) -> DataFrame:
    """Deterministic REAL-WAV media table: seeded integer-frequency sine
    mixes quantized to int16 and encoded to actual RIFF/PCM bytes
    (wavio.encode_wav) — the e2e WAV corpus for :class:`MediaDecoder`. Rows
    alternate mono and stereo (the decoder's downmix path), and lengths
    vary around one second so the kernel's decoded-length reporting is
    exercised against file truth rather than metadata. Rows are lru-cached
    (see :func:`synth_png_media`)."""
    return _synth_media_df(spark, _synth_wav_rows(n, start_id))


@lru_cache(maxsize=4)
def _synth_wav_rows(n: int, start_id: int) -> tuple:
    from br_doc_ocr_spark.ops import wavio

    rows = []
    for i in range(n):
        rate = 8000
        length = rate + (i % 3) * 1000 - 500   # 7500..9500 samples
        t = np.arange(length, dtype=np.float64) / rate
        base = (0.5 * np.sin(2 * np.pi * (220 + 110 * (i % 4)) * t)
                + 0.25 * np.sin(2 * np.pi * (440 + 55 * i) * t))
        q = np.floor(base * 32767 + 0.5).astype(np.int16)
        if i % 2:
            # stereo: right channel phase-shifted by a quarter period
            right = np.roll(q, length // 17)
            samples = np.stack([q, right], axis=1)
        else:
            samples = q
        rows.append((start_id + i, "audio", wavio.encode_wav(samples, rate),
                     (("width", 0), ("height", 0), ("n_frames", 0),
                      ("sample_rate", rate), ("format", "wav"))))
    return tuple(rows)


def synth_avi_media(spark: SparkSession, n: int = 6,
                    start_id: int = 0) -> DataFrame:
    """Deterministic REAL-AVI media table: seeded per-frame RGB gradients
    packed into actual RIFF/AVI containers (aviio.encode_avi), alternating
    the MJPG codec (real per-frame baseline-JFIF decode through jpegio)
    and uncompressed 24-bit DIB (including an odd width so the 4-byte row
    stride is exercised) — the e2e AVI corpus for :class:`MediaDecoder`.
    Frame counts vary so the kernel's every_nth sampling crosses container
    boundaries; metadata matches the container truth. Rows are lru-cached
    (see :func:`synth_png_media` — at ~0.75 s of driver-side MJPG encode
    per build, this corpus is the one the cache exists for)."""
    return _synth_media_df(spark, _synth_avi_rows(n, start_id))


@lru_cache(maxsize=4)
def _synth_avi_rows(n: int, start_id: int) -> tuple:
    from br_doc_ocr_spark.ops import aviio

    rows = []
    for i in range(n):
        codec = "DIB" if i % 2 else "MJPG"
        # odd width on the DIB rows exercises the stride-padding unpack;
        # sizes stay modest because the frozen catalog goldens pin these
        # exact frames (MJPG decode measures ~0.8 MB/s/core — bench.py
        # `jpeg_decode_mb_s`)
        width = 96 + (i % 3) * 32 + (1 if codec == "DIB" else 0)
        height = 64 + (i % 2) * 32
        n_frames = 12 + (i % 3) * 9   # 12/21/30: 2-3 sampled at every_nth=10
        frames = [_synth_gradient(i * 101 + f * 7, width, height)
                  for f in range(n_frames)]
        payload = aviio.encode_avi(frames, fps=10.0, codec=codec)
        rows.append((start_id + i, "video", payload, (
            ("width", width), ("height", height), ("n_frames", n_frames),
            ("sample_rate", 0), ("format", "avi"))))
    return tuple(rows)


def synth_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes; metadata
    spans small and above-cap dimensions so the resize path is exercised)."""
    import pandas as pd  # noqa: F811

    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.blake2b(i.to_bytes(8, "big"),
                                  digest_size=32).digest()
        width = 320 + (i % 5) * 512     # 320..2368: crosses MAX_DIMENSION
        height = 240 + (i % 7) * 256
        rows.append((i, kind, bytearray(payload), {
            "width": width, "height": height,
            "n_frames": 30 + (i % 4) * 30,
            "sample_rate": 16000, "format": "synthetic"}))
    pdf = pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA_DDL)
