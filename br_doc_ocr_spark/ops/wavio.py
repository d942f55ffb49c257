"""Dependency-free WAV (RIFF/WAVE) audio codec — stdlib ``struct`` + NumPy.

The audio analog of :mod:`pngio`/:mod:`jpegio` (VERDICT r04 #3): the
reference's load-and-validate contract for media payloads
(``/root/reference/src/br_doc_ocr/services/preprocessing.py:25-63`` — open,
verify, fail loudly on corrupt input) rendered for the audio family, built
from the PUBLIC RIFF/WAVE container spec (Microsoft/IBM "Multimedia
Programming Interface and Data Specifications 1.0", 1991; the same layout
documented in RFC 2361 for the format-tag registry).

Supported profile:

- container: little-endian RIFF with a WAVE form, ``fmt `` + ``data``
  chunks in any order, unknown chunks (LIST, fact, cue, ...) skipped by
  their declared size (word-aligned, per the RIFF padding rule);
- codecs: PCM (format tag 1) at 8 (unsigned) / 16 / 24 / 32 (signed)
  bits per sample, and IEEE float (format tag 3) at 32 / 64 bits;
- any channel count (decode returns planar channels; the feature kernel
  downmixes by mean).

Everything else (ADPCM, A-law/µ-law, WAVE_FORMAT_EXTENSIBLE sub-formats)
raises a named ValueError — the module's error contract mirrors the image
codecs: corrupt or unsupported payloads are ALWAYS ``ValueError`` with a
``WAV:`` prefix, never IndexError/struct.error, so the kernels' media
quarantine can rely on the type.

Decoding is vectorized: one ``np.frombuffer`` over the data chunk plus a
constant number of array ops (the 24-bit path pads each 3-byte frame via a
strided view) — no per-sample Python.
"""

from __future__ import annotations

import struct

import numpy as np

# format tags from the public RIFF registry (RFC 2361)
_WAVE_FORMAT_PCM = 0x0001
_WAVE_FORMAT_IEEE_FLOAT = 0x0003


def _err(msg: str) -> ValueError:
    return ValueError(f"WAV: {msg}")


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → (float32 array shaped (n_samples, n_channels) in
    [-1, 1], sample_rate).

    Integer PCM normalizes by the type's full scale (8-bit unsigned:
    (x−128)/128; N-bit signed: x / 2^(N−1)); IEEE-float passes through
    (cast to float32). Raises :class:`ValueError` (``WAV: ...``) on any
    corrupt, truncated, or unsupported payload.
    """
    if len(payload) < 12:
        raise _err("payload shorter than the 12-byte RIFF header")
    if payload[:4] != b"RIFF":
        raise _err(f"not a RIFF container (leading bytes "
                   f"{payload[:4].hex()})")
    if payload[8:12] != b"WAVE":
        raise _err(f"RIFF form is {payload[8:12]!r}, not WAVE")

    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_start = pos + 8
        if body_start + size > len(payload):
            raise _err(f"chunk {cid!r} declares {size} bytes but the "
                       f"payload ends {body_start + size - len(payload)} "
                       f"bytes early")
        if cid == b"fmt ":
            if size < 16:
                raise _err(f"fmt chunk is {size} bytes, spec minimum is 16")
            fmt = struct.unpack_from("<HHIIHH", payload, body_start)
        elif cid == b"data":
            data = payload[body_start:body_start + size]
        # RIFF word alignment: odd-sized chunks carry one pad byte
        pos = body_start + size + (size & 1)
    if fmt is None:
        raise _err("no fmt chunk")
    if data is None:
        raise _err("no data chunk")

    tag, n_channels, sample_rate, _byte_rate, block_align, bits = fmt
    if n_channels < 1:
        raise _err("fmt declares zero channels")
    if sample_rate < 1:
        raise _err("fmt declares zero sample rate")
    if tag == _WAVE_FORMAT_PCM:
        if bits not in (8, 16, 24, 32):
            raise _err(f"{bits}-bit PCM unsupported (8/16/24/32 only)")
    elif tag == _WAVE_FORMAT_IEEE_FLOAT:
        if bits not in (32, 64):
            raise _err(f"{bits}-bit IEEE float unsupported (32/64 only)")
    else:
        raise _err(f"format tag 0x{tag:04X} unsupported (PCM and IEEE "
                   f"float only; ADPCM/A-law/extensible need a library "
                   f"decoder)")
    frame_bytes = n_channels * (bits // 8)
    if block_align != frame_bytes:
        raise _err(f"block align {block_align} != channels x sample bytes "
                   f"{frame_bytes}")
    if len(data) % frame_bytes:
        raise _err(f"data chunk ({len(data)} bytes) is not a whole number "
                   f"of {frame_bytes}-byte frames")
    n_samples = len(data) // frame_bytes
    if n_samples == 0:
        # A zero-byte data chunk is structurally parseable but carries no
        # signal: downstream feature kernels would compute mean([]) = NaN
        # and silently poison aggregates instead of quarantining the row.
        # Refuse it under the same named-error contract as corruption.
        raise _err("data chunk contains zero samples")

    if tag == _WAVE_FORMAT_IEEE_FLOAT:
        raw = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8")
        if not np.isfinite(raw).all():
            # NaN/Inf samples are structurally decodable but poison every
            # downstream feature (rms/frame_energy go NaN) without ever
            # hitting the row quarantine — the same silent-poisoning mode
            # the zero-sample guard refuses. Integer PCM cannot encode
            # non-finite values, so only this path needs the check.
            raise _err("IEEE-float data chunk contains non-finite samples")
        wave = raw.astype(np.float32)
    elif bits == 8:
        raw = np.frombuffer(data, dtype=np.uint8)
        wave = (raw.astype(np.float32) - 128.0) / 128.0
    elif bits == 24:
        # pad each little-endian 3-byte frame to 4 bytes (sign-extend via
        # the arithmetic shift after an int32 read) — vectorized, no loop
        b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((b.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = b
        raw = padded.view("<i4").ravel() >> 8
        wave = raw.astype(np.float32) / float(1 << 23)
    else:
        dtype = "<i2" if bits == 16 else "<i4"
        raw = np.frombuffer(data, dtype=dtype)
        wave = raw.astype(np.float32) / float(1 << (bits - 1))
    return wave.reshape(n_samples, n_channels), sample_rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(n_samples,) or (n_samples, n_channels) int16 array → canonical
    16-bit PCM RIFF/WAVE bytes (the synth-corpus encoder: int16 in, int16
    out, so decode(encode(x)) is exact up to the 1/32768 scale)."""
    arr = np.asarray(samples)
    if arr.dtype != np.int16:
        raise _err(f"encode_wav takes int16 samples, got {arr.dtype} — "
                   f"quantize explicitly so the round-trip contract stays "
                   f"exact")
    if arr.ndim == 1:
        arr = arr[:, None]
    if arr.ndim != 2:
        raise _err(f"samples must be 1-D or 2-D, got shape {arr.shape}")
    n_channels = arr.shape[1]
    data = arr.astype("<i2").tobytes()
    block_align = n_channels * 2
    fmt = struct.pack("<HHIIHH", _WAVE_FORMAT_PCM, n_channels,
                      int(sample_rate), int(sample_rate) * block_align,
                      block_align, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body
