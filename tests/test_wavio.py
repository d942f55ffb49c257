"""wavio: spec-level RIFF/WAVE codec tests (chunk walking, every sample
format, named error contract) and the end-to-end Spark audio-feature run
over real WAV bytes — the audio mirror of test_pngio/test_jpegio
(VERDICT r04 #3: make the audio family as real as the image family)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from br_doc_ocr_spark.ops import multimodal as mm
from br_doc_ocr_spark.ops import wavio


def _tone(n: int = 800, seed: int = 0) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-32768, 32768, size=n, dtype=np.int16)


# ---------------------------------------------------------------------------
# Round-trips
# ---------------------------------------------------------------------------

def test_int16_mono_roundtrip_is_exact():
    q = _tone()
    wave, rate = wavio.decode_wav(wavio.encode_wav(q, 8000))
    assert rate == 8000
    assert wave.shape == (800, 1)
    assert np.array_equal(wave[:, 0], q.astype(np.float32) / 32768.0)


def test_int16_stereo_roundtrip_keeps_channels():
    left, right = _tone(seed=1), _tone(seed=2)
    payload = wavio.encode_wav(np.stack([left, right], axis=1), 44100)
    wave, rate = wavio.decode_wav(payload)
    assert rate == 44100
    assert wave.shape == (800, 2)
    assert np.array_equal(wave[:, 0], left.astype(np.float32) / 32768.0)
    assert np.array_equal(wave[:, 1], right.astype(np.float32) / 32768.0)


def _wav(fmt_tag: int, channels: int, rate: int, bits: int,
         data: bytes, extra_chunks: bytes = b"") -> bytes:
    block = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", fmt_tag, channels, rate, rate * block,
                      block, bits)
    body = (b"WAVE" + extra_chunks
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_8bit_unsigned_pcm():
    data = bytes([0, 128, 255, 192])
    wave, _ = wavio.decode_wav(_wav(1, 1, 8000, 8, data))
    assert np.allclose(wave[:, 0], [(x - 128) / 128.0 for x in data])


def test_24bit_pcm_sign_extension():
    # -1, +1, max positive, min negative as little-endian 3-byte frames
    frames = [(-1), 1, (1 << 23) - 1, -(1 << 23)]
    data = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in frames)
    wave, _ = wavio.decode_wav(_wav(1, 1, 16000, 24, data))
    assert np.allclose(wave[:, 0], [v / float(1 << 23) for v in frames])


def test_32bit_pcm_and_float_formats():
    ints = np.array([-(1 << 31), 0, (1 << 31) - 1], dtype="<i4")
    wave, _ = wavio.decode_wav(_wav(1, 1, 8000, 32, ints.tobytes()))
    assert np.allclose(wave[:, 0], ints / float(1 << 31))
    floats = np.array([-1.0, 0.25, 1.0], dtype="<f4")
    wave, _ = wavio.decode_wav(_wav(3, 1, 8000, 32, floats.tobytes()))
    assert np.array_equal(wave[:, 0], floats)
    doubles = np.array([-0.5, 0.125], dtype="<f8")
    wave, _ = wavio.decode_wav(_wav(3, 1, 8000, 64, doubles.tobytes()))
    assert np.allclose(wave[:, 0], doubles)


def test_unknown_chunks_are_skipped_with_odd_size_padding():
    # LIST chunk with an ODD size before fmt/data: the word-alignment pad
    # byte must be honored or every later chunk misparses
    odd = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    q = _tone(16)
    base = wavio.encode_wav(q, 8000)
    payload = base[:12] + odd + base[12:]
    payload = payload[:4] + struct.pack(
        "<I", len(payload) - 8) + payload[8:]
    wave, rate = wavio.decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(wave[:, 0], q.astype(np.float32) / 32768.0)


# ---------------------------------------------------------------------------
# Error contract: always ValueError with WAV context
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mutate, msg", [
    (lambda p: b"OggS" + p[4:], "not a RIFF container"),
    (lambda p: p[:8] + b"AVI " + p[12:], "not WAVE"),
    (lambda p: p[:30], "ends"),
    (lambda p: p[:11], "shorter than"),
])
def test_corrupt_containers_raise_named_errors(mutate, msg):
    payload = wavio.encode_wav(_tone(64), 8000)
    with pytest.raises(ValueError, match=f"WAV:.*{msg}"):
        wavio.decode_wav(mutate(payload))


def test_unsupported_format_tag_raises():
    with pytest.raises(ValueError, match="format tag 0x0002"):
        wavio.decode_wav(_wav(2, 1, 8000, 16, b"\x00\x00"))


def test_unsupported_bit_depth_raises():
    with pytest.raises(ValueError, match="12-bit PCM"):
        wavio.decode_wav(_wav(1, 1, 8000, 12, b"\x00\x00"))


def test_missing_chunks_raise():
    no_data = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(ValueError, match="no fmt chunk"):
        wavio.decode_wav(no_data)


def test_ragged_data_chunk_raises():
    with pytest.raises(ValueError, match="whole number"):
        wavio.decode_wav(_wav(1, 1, 8000, 16, b"\x00\x00\x00"))


def test_nonfinite_float_samples_raise():
    """IEEE-float WAVs carrying NaN/Inf must raise the named error instead
    of decoding into NaN rms/frame_energy that silently poisons downstream
    aggregates while skipping the row quarantine (review r05). Integer PCM
    cannot encode non-finite values, so only the float path is guarded."""
    for bad in (np.nan, np.inf, -np.inf):
        floats = np.array([0.25, bad, -0.5], dtype="<f4")
        with pytest.raises(ValueError, match="non-finite"):
            wavio.decode_wav(_wav(3, 1, 8000, 32, floats.tobytes()))
    doubles = np.array([0.25, np.nan], dtype="<f8")
    with pytest.raises(ValueError, match="non-finite"):
        wavio.decode_wav(_wav(3, 1, 8000, 64, doubles.tobytes()))


def test_zero_sample_data_chunk_raises():
    """A structurally valid WAV with a 0-byte data chunk must raise the
    named error: downstream kernels would otherwise compute mean([]) = NaN
    rms/frame_energy and silently poison aggregates instead of hitting the
    row quarantine (review r05)."""
    with pytest.raises(ValueError, match="zero samples"):
        wavio.decode_wav(_wav(1, 1, 8000, 16, b""))


def test_encode_rejects_non_int16():
    with pytest.raises(ValueError, match="int16"):
        wavio.encode_wav(np.zeros(4, dtype=np.float32), 8000)


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(pos=st.integers(min_value=0, max_value=10_000),
       val=st.integers(min_value=0, max_value=255))
def test_fuzzed_payloads_raise_value_error_or_decode(pos, val):
    """Single-byte corruption anywhere either still decodes or raises
    ValueError — never IndexError/struct.error (the module's contract)."""
    payload = bytearray(wavio.encode_wav(_tone(512, seed=7), 8000))
    payload[pos % len(payload)] = val
    try:
        wave, rate = wavio.decode_wav(bytes(payload))
        assert wave.ndim == 2 and rate >= 1
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# Spark end-to-end on real bytes
# ---------------------------------------------------------------------------

def test_audio_features_end_to_end_on_real_wavs(spark):
    """The audio kernel over actual RIFF bytes with MediaDecoder: every row
    decodes, n_samples reports FILE truth (not metadata), and values match
    a local decode of the same payloads exactly."""
    media = mm.synth_wav_media(spark, n=6)
    feats, _ = mm.audio_features(media)
    got = {r["media_id"]: r for r in feats.collect()}
    assert sorted(got) == list(range(6))
    for row in media.collect():
        wave, rate = wavio.decode_wav(bytes(row["payload"]))
        mono = wave.mean(axis=1)
        r = got[row["media_id"]]
        assert r["n_samples"] == mono.shape[0]
        # synth lengths (7500/8500/9500) never equal the 8000 rate, so this
        # proves the kernel reports decoded truth, not metadata
        assert r["n_samples"] != row["meta"]["sample_rate"]
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(mono ** 2))))


def test_audio_features_mismatched_metadata_refused(spark):
    """A WAV whose header rate disagrees with the metadata must raise (the
    same mislabeled-media refusal as the image decoders), which the kernel
    quarantines and counts."""
    media = mm.synth_wav_media(spark, n=3)
    lying = media.selectExpr(
        "media_id + 50 AS media_id", "kind", "payload",
        "named_struct('width', meta.width, 'height', meta.height, "
        "'n_frames', meta.n_frames, 'sample_rate', 16000, "
        "'format', meta.format) AS meta").limit(1)
    mixed = media.unionByName(lying)
    lying_row = lying.first()
    with pytest.raises(ValueError, match="refusing to feature-extract"):
        mm.MediaDecoder().decode_audio(bytes(lying_row["payload"]),
                                       lying_row["meta"]["sample_rate"])
    feats, tally = mm.audio_features(mixed)
    good = feats.collect()
    assert sorted(r["media_id"] for r in good) == [0, 1, 2]
    assert sum(c["skipped_ValueError"] for c in tally.value.values()) == 1


def test_audio_features_corrupt_payload_quarantined(spark):
    media = mm.synth_wav_media(spark, n=4)
    corrupt = media.selectExpr(
        "media_id + 50 AS media_id", "kind",
        "cast('not audio' as binary) AS payload", "meta").limit(1)
    mixed = media.unionByName(corrupt)
    feats, tally = mm.audio_features(mixed)
    good = feats.collect()
    assert sorted(r["media_id"] for r in good) == [0, 1, 2, 3]
    assert sum(c["skipped_ValueError"] for c in tally.value.values()) == 1
    with pytest.raises(ValueError, match="WAV:"):
        mm.MediaDecoder().decode_audio(b"not audio", 8000)


def test_library_decoder_routes_riff_to_wav_decoder():
    payload = wavio.encode_wav(_tone(128), 8000)
    wave = mm.MediaDecoder().decode_audio(payload, 8000)
    assert wave.shape == (128,)
    with pytest.raises(ValueError, match="torchaudio"):
        mm.MediaDecoder().decode_audio(b"\x00\x01\x02\x03", 8000)
