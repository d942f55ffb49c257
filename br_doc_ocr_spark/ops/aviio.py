"""Dependency-free AVI (RIFF) video container codec — stdlib ``struct`` +
NumPy, MJPEG frames via :mod:`jpegio`.

The video analog of :mod:`pngio`/:mod:`jpegio`/:mod:`wavio` (VERDICT r04
pattern, closing the last documented decode stub): the reference's
load-and-validate contract for media payloads
(``/root/reference/src/br_doc_ocr/services/preprocessing.py:25-63`` — open,
verify, fail loudly on corrupt input) rendered for the video family, built
from the PUBLIC AVI RIFF file format (Microsoft "AVI RIFF File Reference" /
"Multimedia Programming Interface and Data Specifications 1.0", 1991, plus
the OpenDML AVI v1.02 extensions document for the chunk-id conventions).

Supported profile:

- container: little-endian RIFF with an ``AVI `` form; ``LIST hdrl``
  carrying ``avih`` and one video (``vids``) ``LIST strl`` with
  ``strh``/``strf`` (BITMAPINFOHEADER); frames read by scanning ``LIST
  movi`` directly — the optional ``idx1`` index is advisory and often
  wrong in the wild, so it is never trusted; ``LIST rec `` interleave
  groups inside ``movi`` are descended into;
- codecs: ``MJPG`` (each ``##dc`` chunk is a standalone baseline-JFIF
  image, decoded by the :mod:`jpegio` codec) and uncompressed ``BI_RGB``
  DIB (``##db`` chunks: 24-bit BGR rows on a 4-byte stride, bottom-up, or
  top-down via negative ``biHeight``).

Everything else (other fourccs, bit depths, palettes, audio-only files)
raises a named ValueError — the module's error contract mirrors the other
codecs: corrupt or unsupported payloads are ALWAYS ``ValueError`` with an
``AVI:`` prefix (MJPEG frame errors keep their ``JPEG:`` detail inside the
message), never IndexError/struct.error, so the kernels' media
quarantine can rely on the exception type.

Container metadata (``strf`` dimensions, scanned frame count) is
authoritative over caller-supplied metadata, same contract as the image
codecs: a mislabeled row refuses instead of silently mis-shaping features.
"""

from __future__ import annotations

import struct
from functools import lru_cache
from typing import NamedTuple

import numpy as np

_BI_RGB = 0  # BITMAPINFOHEADER biCompression for uncompressed DIB


def _err(msg: str) -> ValueError:
    return ValueError(f"AVI: {msg}")


class AviInfo(NamedTuple):
    """Parsed container facts. ``frames`` holds (start, size) byte spans of
    each video frame chunk's body, in stream order; ``codec`` is ``'MJPG'``
    or ``'DIB'``; ``top_down`` reflects the sign of ``biHeight``."""

    width: int
    height: int
    n_frames: int
    fps: float
    codec: str
    top_down: bool
    frames: tuple


def _u32(payload: bytes, pos: int, what: str) -> int:
    if pos + 4 > len(payload):
        raise _err(f"truncated while reading {what} at offset {pos}")
    return struct.unpack_from("<I", payload, pos)[0]


def _walk_chunks(payload: bytes, start: int, end: int, what: str):
    """Yield (chunk_id, list_type_or_None, body_start, body_size) over one
    RIFF chunk sequence, enforcing bounds and the even-padding rule."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise _err(f"trailing {end - pos} bytes in {what} are too short "
                       f"for a chunk header")
        cid = payload[pos:pos + 4]
        size = _u32(payload, pos + 4, f"{what} chunk size")
        body = pos + 8
        if body + size > end:
            raise _err(f"chunk {cid!r} in {what} declares {size} bytes but "
                       f"the enclosing span ends {body + size - end} bytes "
                       f"early")
        if cid == b"LIST":
            if size < 4:
                raise _err(f"LIST in {what} is {size} bytes, below the "
                           f"4-byte list-type minimum")
            yield cid, payload[body:body + 4], body + 4, size - 4
        else:
            yield cid, None, body, size
        pos = body + size + (size & 1)  # RIFF word-alignment padding


@lru_cache(maxsize=2)
def parse_avi(payload: bytes) -> AviInfo:
    """AVI bytes → :class:`AviInfo`. Cached so the frame-sampling kernel's
    per-frame calls walk the container once per payload, not once per
    frame. maxsize stays tiny on purpose: the cache KEY pins the whole
    payload in memory, and frames of one media row arrive consecutively,
    so 2 slots give the hit pattern everything it needs while bounding
    worst-case retention to two payloads per worker (a 16-slot cache over
    100 MB videos would silently hold 1.6 GB).

    Raises :class:`ValueError` (``AVI: ...``) on any corrupt, truncated, or
    unsupported payload.
    """
    if len(payload) < 12:
        raise _err("payload shorter than the 12-byte RIFF header")
    if payload[:4] != b"RIFF":
        raise _err(f"not a RIFF container (leading bytes {payload[:4].hex()})")
    riff_size = _u32(payload, 4, "RIFF size")
    if 8 + riff_size > len(payload):
        raise _err(f"RIFF declares {riff_size} bytes but the payload ends "
                   f"{8 + riff_size - len(payload)} bytes early")
    if payload[8:12] != b"AVI ":
        raise _err(f"RIFF form is {payload[8:12]!r}, not 'AVI '")

    end = 8 + riff_size
    avih = None
    stream_idx = None          # index of the first 'vids' stream
    strf = None
    strh = None
    n_streams_seen = 0
    movi_span = None

    for cid, ltype, body, size in _walk_chunks(payload, 12, end, "AVI form"):
        if cid == b"LIST" and ltype == b"hdrl":
            for hid, hltype, hbody, hsize in _walk_chunks(
                    payload, body, body + size, "hdrl"):
                if hid == b"avih":
                    if hsize < 40:
                        raise _err(f"avih is {hsize} bytes, spec minimum 40")
                    avih = struct.unpack_from("<10I", payload, hbody)
                elif hid == b"LIST" and hltype == b"strl":
                    this_idx = n_streams_seen
                    n_streams_seen += 1
                    s_strh = s_strf = None
                    for sid, _, sbody, ssize in _walk_chunks(
                            payload, hbody, hbody + hsize, "strl"):
                        if sid == b"strh":
                            if ssize < 36:
                                raise _err(f"strh is {ssize} bytes, spec "
                                           f"minimum 36")
                            s_strh = (payload[sbody:sbody + 4],
                                      struct.unpack_from("<II", payload,
                                                         sbody + 20))
                        elif sid == b"strf":
                            s_strf = (sbody, ssize)
                    if (s_strh is not None and s_strh[0] == b"vids"
                            and stream_idx is None):
                        if s_strf is None:
                            raise _err("vids stream has no strf "
                                       "(BITMAPINFOHEADER) chunk")
                        stream_idx = this_idx
                        strh = s_strh
                        strf = s_strf
        elif cid == b"LIST" and ltype == b"movi":
            movi_span = (body, body + size)

    if avih is None:
        raise _err("no avih (MainAVIHeader) chunk in LIST hdrl")
    if stream_idx is None:
        raise _err("no 'vids' video stream in LIST hdrl")
    if movi_span is None:
        raise _err("no LIST movi chunk (the container holds no frames)")

    fbody, fsize = strf
    if fsize < 24:
        raise _err(f"strf BITMAPINFOHEADER is {fsize} bytes, need >= 24")
    (_, bi_width, bi_height, _, bi_bitcount,
     bi_compression) = struct.unpack_from("<IiiHHI", payload, fbody)
    top_down = bi_height < 0
    width, height = bi_width, abs(bi_height)
    if width <= 0 or height == 0:
        raise _err(f"strf declares a {bi_width}x{bi_height} frame")

    if bi_compression == _BI_RGB:
        if bi_bitcount != 24:
            raise _err(f"uncompressed DIB at {bi_bitcount} bpp unsupported "
                       f"(24-bit BGR only)")
        codec = "DIB"
    elif bi_compression.to_bytes(4, "little") == b"MJPG":
        codec = "MJPG"
    else:
        four = bi_compression.to_bytes(4, "little")
        raise _err(f"codec fourcc {four!r} unsupported (MJPG or "
                   f"uncompressed 24-bit DIB only)")

    # frame chunks for OUR stream: '##db' (uncompressed) / '##dc'
    # (compressed), possibly nested one level inside 'LIST rec ' interleave
    # groups. The scan is the truth for n_frames; dwTotalFrames/strh length
    # are advisory (wild-file encoders routinely get them wrong).
    want = {f"{stream_idx:02d}db".encode(), f"{stream_idx:02d}dc".encode()}
    frames = []

    def collect(span_start, span_end, what, depth):
        for mid, mltype, mbody, msize in _walk_chunks(
                payload, span_start, span_end, what):
            if mid == b"LIST" and mltype == b"rec ":
                if depth >= 2:
                    # the spec nests 'rec ' one level under movi; a deeper
                    # chain is a crafted payload, and recursing into it
                    # would surface as RecursionError instead of the
                    # codec's ValueError contract
                    raise _err("rec interleave lists nested deeper than 2 "
                               "levels")
                collect(mbody, mbody + msize, "rec", depth + 1)
            elif mid in want:
                frames.append((mbody, msize))

    collect(movi_span[0], movi_span[1], "movi", 0)
    if not frames:
        raise _err(f"LIST movi holds no frame chunks for stream "
                   f"{stream_idx:02d}")

    scale, rate = strh[1]
    if scale > 0 and rate > 0:
        fps = rate / scale
    elif avih[0] > 0:
        fps = 1e6 / avih[0]  # dwMicroSecPerFrame fallback
    else:
        raise _err("neither strh rate/scale nor avih dwMicroSecPerFrame "
                   "gives a frame rate")

    return AviInfo(width, height, len(frames), fps, codec, top_down,
                   tuple(frames))


def decode_avi_frame(payload: bytes, frame_idx: int) -> np.ndarray:
    """AVI bytes + frame index → uint8 RGB array shaped (height, width, 3).

    DIB frames unpack exactly (BGR→RGB, stride crop, bottom-up flip); MJPG
    frames decode through :func:`jpegio.decode_jpeg` with the frame's own
    dimensions validated against the container's. Raises
    :class:`ValueError` on out-of-range indices or corrupt frame data.
    """
    info = parse_avi(payload)
    if not 0 <= frame_idx < info.n_frames:
        raise _err(f"frame index {frame_idx} out of range (container holds "
                   f"{info.n_frames} frames)")
    start, size = info.frames[frame_idx]
    data = payload[start:start + size]

    if info.codec == "DIB":
        stride = (info.width * 3 + 3) & ~3
        expected = stride * info.height
        if size != expected:
            raise _err(f"DIB frame {frame_idx} is {size} bytes, expected "
                       f"{expected} ({info.width}x{info.height} x 24bpp on "
                       f"a 4-byte stride)")
        rows = np.frombuffer(data, dtype=np.uint8).reshape(
            info.height, stride)[:, :info.width * 3]
        img = rows.reshape(info.height, info.width, 3)[:, :, ::-1]  # BGR→RGB
        if not info.top_down:
            img = img[::-1]  # DIBs are bottom-up unless biHeight < 0
        return np.ascontiguousarray(img)

    from br_doc_ocr_spark.ops import jpegio

    try:
        img = jpegio.decode_jpeg(bytes(data))
    except ValueError as e:
        raise _err(f"MJPG frame {frame_idx}: {e}") from e
    if img.shape[:2] != (info.height, info.width):
        raise _err(f"MJPG frame {frame_idx} decodes to "
                   f"{img.shape[1]}x{img.shape[0]} but the container "
                   f"declares {info.width}x{info.height}")
    return img


# ---------------------------------------------------------------------------
# Encoder (test/synthesis path — real AVI bytes for the e2e corpora)
# ---------------------------------------------------------------------------

def _chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b"")


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi(frames, fps: float = 10.0, codec: str = "MJPG") -> bytes:
    """uint8 RGB frames (each (h, w, 3), all equal dims) → AVI bytes with a
    single video stream: ``MJPG`` (each frame a baseline-JFIF image via
    :func:`jpegio.encode_jpeg` at its default quality) or uncompressed
    24-bit ``DIB`` (bottom-up BGR, 4-byte row stride). Writes a
    spec-complete header set (avih, strh, strf, idx1) so third-party players
    accept the output; the decoder in this module never trusts idx1.
    """
    if not frames:
        raise _err("encode needs at least one frame")
    h, w = frames[0].shape[:2]
    for i, f in enumerate(frames):
        if f.shape != (h, w, 3) or f.dtype != np.uint8:
            raise _err(f"frame {i} is {f.shape}/{f.dtype}, expected "
                       f"({h}, {w}, 3) uint8 like frame 0")
    if codec == "MJPG":
        from br_doc_ocr_spark.ops import jpegio

        bodies = [jpegio.encode_jpeg(f) for f in frames]
        ckid, compression, size_image = b"00dc", b"MJPG", w * h * 3
    elif codec == "DIB":
        stride = (w * 3 + 3) & ~3
        bodies = []
        for f in frames:
            rows = np.zeros((h, stride), dtype=np.uint8)
            rows[:, :w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR ↑
            bodies.append(rows.tobytes())
        ckid, compression, size_image = (
            b"00db", _BI_RGB.to_bytes(4, "little"), stride * h)
    else:
        raise _err(f"encode codec {codec!r} unsupported (MJPG or DIB)")

    sug_buf = max(len(b) for b in bodies)
    avih = struct.pack("<14I", int(1e6 / fps), 0, 0, 0x10, len(frames), 0,
                       1, sug_buf, w, h, 0, 0, 0, 0)
    strh = (b"vids" + compression
            + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, round(fps), 0,
                          len(frames), sug_buf, 0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24,
                       struct.unpack("<I", compression)[0], size_image,
                       0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))

    movi_body = b""
    idx_entries = []
    for body in bodies:
        # idx1 offsets count from the position of the 'movi' fourcc
        idx_entries.append((ckid, 0x10, 4 + len(movi_body), len(body)))
        movi_body += _chunk(ckid, body)
    movi = _list(b"movi", movi_body)
    idx1 = _chunk(b"idx1", b"".join(
        cid + struct.pack("<III", flags, off, size)
        for cid, flags, off, size in idx_entries))

    return _chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)
