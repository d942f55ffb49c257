"""AVI (RIFF) container codec: roundtrips, orientation, the named-error
fuzz contract, the MediaDecoder seam, and the Spark e2e path on real bytes —
the video mirror of test_pngio/test_jpegio/test_wavio."""

import struct

import numpy as np
import pytest

from br_doc_ocr_spark.ops import aviio
from br_doc_ocr_spark.ops.aviio import decode_avi_frame, encode_avi, parse_avi


def _frames(n=3, w=48, h=32, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(n)]


# ---------------------------------------------------------------------------
# container facts + roundtrips
# ---------------------------------------------------------------------------

def test_parse_reports_container_facts():
    p = encode_avi(_frames(5, w=48, h=32), fps=12.0, codec="DIB")
    info = parse_avi(p)
    assert (info.width, info.height, info.n_frames) == (48, 32, 5)
    assert info.fps == pytest.approx(12.0)
    assert info.codec == "DIB" and not info.top_down


def test_dib_roundtrip_is_exact_including_odd_stride():
    # width 49: 49*3=147 bytes/row padded to a 148-byte stride — the 4-byte
    # alignment rule must be stripped on decode, not leak into pixels
    frames = _frames(4, w=49, h=17, seed=1)
    p = encode_avi(frames, codec="DIB")
    for i, f in enumerate(frames):
        assert np.array_equal(decode_avi_frame(p, i), f)


def test_mjpg_roundtrip_is_close_and_deterministic():
    frames = _frames(3, w=48, h=32, seed=2)
    p = encode_avi(frames, codec="MJPG")
    info = parse_avi(p)
    assert info.codec == "MJPG" and info.n_frames == 3
    for i, f in enumerate(frames):
        d = decode_avi_frame(p, i)
        assert d.shape == f.shape
        # random noise is JPEG's worst case; mean error still bounded
        assert np.abs(d.astype(int) - f.astype(int)).mean() < 24
        assert np.array_equal(d, decode_avi_frame(p, i))  # bit-stable


def test_bottom_up_storage_does_not_flip_the_image():
    f = np.zeros((8, 8, 3), dtype=np.uint8)
    f[0, :, :] = 255  # white TOP row
    p = encode_avi([f], codec="DIB")
    d = decode_avi_frame(p, 0)
    assert d[0].min() == 255 and d[1:].max() == 0


def test_negative_biheight_means_top_down():
    f = np.zeros((8, 8, 3), dtype=np.uint8)
    f[0, :, :] = 255
    p = bytearray(encode_avi([f], codec="DIB"))
    body = p.index(b"strf") + 8
    struct.pack_into("<i", p, body + 8, -8)  # biHeight: 8 → -8
    d = decode_avi_frame(bytes(p), 0)
    # rows were written bottom-up but are now declared top-down: flipped
    assert d[-1].min() == 255 and d[:-1].max() == 0
    assert parse_avi(bytes(p)).top_down


def test_rec_interleave_lists_are_descended():
    frames = _frames(2, w=16, h=8, seed=3)
    p = bytearray(encode_avi(frames, codec="DIB"))
    i = p.find(b"movi") - 8  # position of the movi LIST header
    (size,) = struct.unpack_from("<I", p, i + 4)
    chunks = bytes(p[i + 12:i + 8 + size])
    rebuilt = (bytes(p[:i])
               + aviio._list(b"movi", aviio._list(b"rec ", chunks))
               + bytes(p[i + 8 + size + (size & 1):]))
    out = bytearray(rebuilt)
    struct.pack_into("<I", out, 4, len(out) - 8)
    info = parse_avi(bytes(out))
    assert info.n_frames == 2
    for j, f in enumerate(frames):
        assert np.array_equal(decode_avi_frame(bytes(out), j), f)


def test_rec_lists_nested_past_spec_depth_raise_not_recurse():
    p = bytearray(encode_avi(_frames(1, w=16, h=8), codec="DIB"))
    i = p.find(b"movi") - 8
    (size,) = struct.unpack_from("<I", p, i + 4)
    chunks = bytes(p[i + 12:i + 8 + size])
    for _ in range(3):  # movi > rec > rec > rec: one past the guard
        chunks = aviio._list(b"rec ", chunks)
    rebuilt = (bytes(p[:i]) + aviio._list(b"movi", chunks)
               + bytes(p[i + 8 + size + (size & 1):]))
    out = bytearray(rebuilt)
    struct.pack_into("<I", out, 4, len(out) - 8)
    with pytest.raises(ValueError, match="AVI: rec interleave lists nested"):
        parse_avi(bytes(out))


# ---------------------------------------------------------------------------
# error contract: always ValueError with an AVI: prefix
# ---------------------------------------------------------------------------

def test_corrupt_containers_raise_named_errors():
    p = bytearray(encode_avi(_frames(2, w=16, h=8), codec="DIB"))
    with pytest.raises(ValueError, match="AVI:.*not a RIFF"):
        parse_avi(b"JUNK" + bytes(p[4:]))
    with pytest.raises(ValueError, match="AVI:.*not 'AVI '"):
        parse_avi(bytes(p[:8]) + b"WAVE" + bytes(p[12:]))
    with pytest.raises(ValueError, match="AVI:.*shorter than"):
        parse_avi(b"RIFF")
    with pytest.raises(ValueError, match="AVI:.*no avih"):
        parse_avi(b"RIFF" + struct.pack("<I", 4) + b"AVI ")


def test_unsupported_codec_and_bpp_raise():
    p = bytearray(encode_avi(_frames(1, w=16, h=8), codec="DIB"))
    body = p.index(b"strf") + 8
    bad = bytearray(p)
    struct.pack_into("<4s", bad, body + 16, b"H264")
    with pytest.raises(ValueError, match="AVI:.*fourcc b'H264' unsupported"):
        parse_avi(bytes(bad))
    bad = bytearray(p)
    struct.pack_into("<H", bad, body + 14, 32)
    with pytest.raises(ValueError, match="AVI:.*32 bpp unsupported"):
        parse_avi(bytes(bad))


def test_frame_index_out_of_range_raises():
    p = encode_avi(_frames(2, w=16, h=8), codec="DIB")
    with pytest.raises(ValueError, match="AVI: frame index 2 out of range"):
        decode_avi_frame(p, 2)
    with pytest.raises(ValueError, match="AVI: frame index -1 out of range"):
        decode_avi_frame(p, -1)


def test_corrupt_mjpg_frame_raises_named_error():
    p = bytearray(encode_avi(_frames(1, w=16, h=8), codec="MJPG"))
    start, size = parse_avi(bytes(p)).frames[0]
    p[start:start + 2] = b"\x00\x00"  # destroy the frame's SOI marker
    with pytest.raises(ValueError, match="AVI: MJPG frame 0:.*JPEG"):
        decode_avi_frame(bytes(p), 0)


def test_every_truncation_raises_value_error_not_index_error():
    p = encode_avi(_frames(2, w=16, h=8), codec="DIB")
    for cut in range(0, len(p), 11):
        with pytest.raises(ValueError):
            parse_avi(p[:cut])


def test_encode_input_validation():
    with pytest.raises(ValueError, match="AVI:.*at least one frame"):
        encode_avi([])
    f = _frames(1, w=8, h=8)[0]
    with pytest.raises(ValueError, match="AVI: frame 1 is"):
        encode_avi([f, f[:4]])
    with pytest.raises(ValueError, match="AVI:.*codec 'VP9'"):
        encode_avi([f], codec="VP9")


# ---------------------------------------------------------------------------
# decoder seam + Spark e2e
# ---------------------------------------------------------------------------

def test_avi_decoder_enforces_the_metadata_contract():
    from br_doc_ocr_spark.ops.multimodal import MediaDecoder

    p = encode_avi(_frames(1, w=16, h=8), codec="DIB")
    dec = MediaDecoder()
    assert dec.decode_video_frame(p, 0, 16, 8).shape == (8, 16, 3)
    with pytest.raises(ValueError, match="refusing to feature-extract"):
        dec.decode_video_frame(p, 0, 32, 8)
    # AVI bytes in an image or audio row: a modality mismatch, refused
    with pytest.raises(ValueError, match="AVI magic, a video format"):
        dec.decode_image(p, 16, 8)
    with pytest.raises(ValueError, match="AVI magic, a video format"):
        dec.decode_audio(p, 100)


def test_library_decoder_routes_avi_video_dependency_free():
    from br_doc_ocr_spark.ops.multimodal import MediaDecoder

    frames = _frames(1, w=16, h=8, seed=4)
    p = encode_avi(frames, codec="DIB")
    d = MediaDecoder().decode_video_frame(p, 0, 16, 8)
    assert np.array_equal(d, frames[0])
    with pytest.raises(ValueError, match="PyAV"):
        MediaDecoder().decode_video_frame(b"\x00\x01\x02\x03" * 4, 0, 16, 8)


def test_video_frames_end_to_end_on_real_avi(spark):
    from br_doc_ocr_spark.ops import multimodal as mm

    media = mm.synth_avi_media(spark, n=4, start_id=300)
    out = (mm.sample_video_frames(media, every_nth=10)[0]
           .orderBy("media_id", "frame_idx").collect())
    # n_frames cycle 12/21/30/12 → 2+3+3+2 sampled frames
    assert [(r.media_id, r.frame_idx) for r in out] == [
        (300, 0), (300, 10), (301, 0), (301, 10), (301, 20),
        (302, 0), (302, 10), (302, 20), (303, 0), (303, 10)]
    # spot-check one row against a direct local decode of the same payload
    row = next(r for r in media.collect() if r.media_id == 301)
    frame = decode_avi_frame(bytes(row.payload), 10)
    got = next(r for r in out if (r.media_id, r.frame_idx) == (301, 10))
    assert got.mean_intensity == pytest.approx(float(frame.mean()))


def test_video_on_error_skip_quarantines_whole_media(spark):
    import pandas as pd

    from br_doc_ocr_spark.ops import multimodal as mm

    good = encode_avi(_frames(2, w=16, h=8, seed=5), codec="DIB")
    rows = [
        (1, "video", bytearray(good),
         {"width": 16, "height": 8, "n_frames": 2, "sample_rate": 0,
          "format": "avi"}),
        (2, "video", bytearray(b"garbage-not-an-avi"),
         {"width": 16, "height": 8, "n_frames": 2, "sample_rate": 0,
          "format": "avi"}),
    ]
    pdf = pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])
    media = spark.createDataFrame(pdf, schema=mm.MEDIA_SCHEMA_DDL)
    frames, tally = mm.sample_video_frames(media, every_nth=1)
    kept = frames.collect()
    assert sorted((r.media_id, r.frame_idx) for r in kept) == [(1, 0), (1, 1)]
    assert sum(c["skipped_ValueError"] for c in tally.value.values()) == 1
    with pytest.raises(ValueError, match="AVI"):
        mm.MediaDecoder().decode_video_frame(b"garbage-not-an-avi", 0, 16, 8)
