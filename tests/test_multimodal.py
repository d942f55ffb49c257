"""Multimodal plumbing tests: real Spark schemas/batch shapes, deterministic
fake decode, the codec table's library overrides and row quarantine."""

from __future__ import annotations

import numpy as np
import pytest

from br_doc_ocr_spark.ops import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synth_media(spark, n=24)


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    assert "struct" in dict(media.dtypes)["meta"]
    assert media.count() == 24


def test_fake_decoder_deterministic():
    d = mm.FakeDecoder()
    a = d.decode_image(b"xyz", 16, 8)
    b = d.decode_image(b"xyz", 16, 8)
    assert a.shape == (8, 16, 3) and a.dtype == np.uint8
    assert np.array_equal(a, b)
    assert not np.array_equal(a, d.decode_image(b"xyw", 16, 8))
    wave = d.decode_audio(b"xyz", 1000)
    assert wave.shape == (1000,) and wave.min() >= -1.0 and wave.max() < 1.0
    f0 = d.decode_video_frame(b"xyz", 0, 8, 8)
    f1 = d.decode_video_frame(b"xyz", 1, 8, 8)
    assert not np.array_equal(f0, f1)  # frames differ


def test_resize_contract():
    # aspect-preserving, capped at 1024, never upscaled (preprocessing.py:66-96)
    assert mm._resize_dims(320, 240) == (320, 240)
    w, h = mm._resize_dims(2048, 1024)
    assert max(w, h) == 1024 and w == 1024 and h == 512
    w, h = mm._resize_dims(1000, 3000)
    assert (w, h) == (341, 1024)


def test_image_features(media, spark):
    feats = mm.image_features(media, decoder=mm.FakeDecoder())[0].toPandas()
    assert len(feats) == media.filter("kind = 'image'").count()
    assert (feats["out_width"] <= 1024).all() and (feats["out_height"] <= 1024).all()
    assert feats["band_means"].apply(len).eq(3).all()
    # fake pixels are uniform-ish noise → mean near 127.5
    assert feats["mean_intensity"].between(100, 155).all()
    # deterministic: re-run yields identical hashes
    again = mm.image_features(media, decoder=mm.FakeDecoder())[0].toPandas()
    assert sorted(feats["phash"]) == sorted(again["phash"])


def test_real_decoder_is_the_default(spark):
    """A real PNG passed without a decoder is decoded, not synthesized: the
    default equals an explicit MediaDecoder, row for row."""
    import pandas as pd

    pngs = mm.synth_png_media(spark, n=4)

    def rows(**kw):
        feats = mm.image_features(pngs, **kw)[0].toPandas()
        return feats.sort_values("media_id").reset_index(drop=True)

    pd.testing.assert_frame_equal(rows(), rows(decoder=mm.MediaDecoder()))


def test_audio_features(media):
    feats = mm.audio_features(media, decoder=mm.FakeDecoder())[0].toPandas()
    assert (feats["n_samples"] == 16000).all()
    assert feats["rms"].between(0.4, 0.8).all()     # uniform noise RMS ≈ 0.577
    assert feats["frame_energy"].apply(len).eq(15).all()  # 16000 // 1024
    assert (feats["zero_crossings"] > 1000).all()


def test_video_frame_sampling_is_flatmap(media):
    frames = mm.sample_video_frames(media, decoder=mm.FakeDecoder(),
                                    every_nth=10)[0].toPandas()
    vids = media.filter("kind = 'video'").select("media_id", "meta.n_frames") \
        .toPandas()
    expected = int((np.ceil(vids["n_frames"] / 10)).sum())
    assert len(frames) == expected
    assert (frames["frame_idx"] % 10 == 0).all()


def test_library_decoder_enforces_metadata_dimensions(monkeypatch):
    """The PIL override must enforce the same decoded-vs-metadata contract
    as the built-in codecs: a mislabeled row otherwise IndexErrors outside
    the kernel quarantine (decoded smaller) or silently crops (decoded
    larger) (review r05). A stub stands in for Image.open, so the test
    runs whether or not PIL is installed."""
    import sys
    import types

    class _FakeImg:
        mode = "RGB"

        def __array__(self, dtype=None, copy=None):
            return np.zeros((50, 50, 3), dtype=np.uint8)

    fake_image_mod = types.SimpleNamespace(open=lambda fp: _FakeImg())
    monkeypatch.setitem(sys.modules, "PIL",
                        types.SimpleNamespace(Image=fake_image_mod))
    d = mm.MediaDecoder()
    out = d.decode_image(b"whatever", 50, 50)
    assert out.shape == (50, 50, 3)
    with pytest.raises(ValueError, match="mismatched metadata"):
        d.decode_image(b"whatever", 100, 100)


def test_library_decoder_is_clearly_stubbed(monkeypatch):
    import sys

    monkeypatch.setitem(sys.modules, "PIL", None)  # PIL absent
    d = mm.MediaDecoder()
    # formats outside the codec table raise ValueError (which the kernels
    # quarantine) naming the library that would decode them; PNG/JPEG
    # payloads decode dependency-free (test_jpegio)
    with pytest.raises(ValueError, match="PIL"):
        d.decode_image(b"GIF89a....", 1, 1)
    with pytest.raises(ValueError, match="torchaudio|soundfile"):
        d.decode_audio(b"", 1)
    with pytest.raises(ValueError, match="PyAV"):
        d.decode_video_frame(b"", 0, 1, 1)


def test_media_decoder_quarantines_formats_outside_the_table(monkeypatch):
    """A GIF image, an MP3 (ID3) audio payload and an MP4 video payload are
    outside the codec table: each raises ValueError naming the library
    that would decode the format, so the kernel drops exactly those rows,
    keeps the good ones and counts the skip as ``skipped_ValueError`` on the
    returned frame. The per-batch kernels run directly on a pandas batch."""
    import sys

    import pandas as pd

    from br_doc_ocr_spark.ops import aviio, pngio, wavio

    monkeypatch.setitem(sys.modules, "PIL", None)  # PIL absent
    img = np.zeros((8, 16, 3), np.uint8)
    meta = {"width": 16, "height": 8, "n_frames": 2, "sample_rate": 8000,
            "format": "mixed"}
    d = mm.MediaDecoder()
    cases = [
        (mm.image_feature_kernel, pngio.encode_png(img),
         b"GIF89a\x10\x00\x08\x00", "PIL",
         lambda p: d.decode_image(p, 16, 8)),
        (mm.audio_feature_kernel,
         wavio.encode_wav(np.zeros(800, np.int16), 8000),
         b"ID3\x04\x00\x00\x00\x00\x00\x00", "torchaudio",
         lambda p: d.decode_audio(p, 8000)),
        (mm.video_frame_sample_kernel, aviio.encode_avi([img, img],
                                                        codec="DIB"),
         b"\x00\x00\x00\x18ftypmp42", "PyAV",
         lambda p: d.decode_video_frame(p, 0, 16, 8)),
    ]
    for kernel, good, bad, library, decode in cases:
        batch = pd.DataFrame(
            [(1, good, meta), (2, bad, meta), (3, good, meta)],
            columns=["media_id", "payload", "meta"])
        kept = kernel()(batch)
        assert kept["media_id"].tolist() == [1, 3]
        assert kept.attrs["counts"] == {"skipped_ValueError": 1}
        with pytest.raises(ValueError, match=library):
            decode(bad)
