"""Real PNG decode path (VERDICT r03 #2): stdlib-zlib codec correctness —
round-trips, every scanline filter, alpha-on-white compositing, palette
expansion, and the end-to-end Spark image-feature run over real PNG bytes
with the same feature schema the Fake-decoder path uses."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from br_doc_ocr_spark.ops import multimodal as mm
from br_doc_ocr_spark.ops import pngio


def _rng_img(h, w, c=3, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, c) if c else (h, w), dtype=np.uint8)


def test_encode_decode_roundtrip_rgb_and_gray():
    rgb = _rng_img(13, 17)
    assert np.array_equal(pngio.decode_png(pngio.encode_png(rgb)), rgb)
    gray = _rng_img(9, 5, c=0, seed=1)
    out = pngio.decode_png(pngio.encode_png(gray))
    assert out.shape == (9, 5, 3)
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 1], out[:, :, 2])


def _png_from_scanlines(w, h, color_type, bpp, scanlines, extra_chunks=()):
    """Hand-built PNG: raw (filter_byte + row_bytes) scanlines."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(scanlines)
    out = pngio._SIGNATURE + pngio._chunk(b"IHDR", ihdr)
    for ctype, data in extra_chunks:
        out += pngio._chunk(ctype, data)
    return out + pngio._chunk(b"IDAT", zlib.compress(raw)) + pngio._chunk(
        b"IEND", b"")


def test_all_five_filters_decode_exactly():
    """Reference implementation cross-check: unfilter per the spec formulas
    computed independently in slow Python, one row per filter type."""
    w, h, bpp = 5, 5, 3
    rng = np.random.default_rng(7)
    lines = [rng.integers(0, 256, w * bpp, dtype=np.uint8) for _ in range(h)]
    scanlines = [bytes([f]) + lines[i].tobytes()
                 for i, f in enumerate([0, 1, 2, 3, 4])]
    payload = _png_from_scanlines(w, h, 2, bpp, scanlines)
    got = pngio.decode_png(payload).reshape(h, w * bpp)

    # independent spec-direct recon
    recon = np.zeros((h, w * bpp), dtype=np.int32)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        for x in range(w * bpp):
            rx = int(lines[y][x])
            a = recon[y][x - bpp] if x >= bpp else 0
            b = recon[y - 1][x] if y > 0 else 0
            c = recon[y - 1][x - bpp] if (x >= bpp and y > 0) else 0
            if f == 0:
                v = rx
            elif f == 1:
                v = rx + a
            elif f == 2:
                v = rx + b
            elif f == 3:
                v = rx + ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = rx + pred
            recon[y][x] = v & 0xFF
    assert np.array_equal(got, recon.astype(np.uint8))


def test_rgba_and_gray_alpha_composite_on_white():
    """normalize_image contract (preprocessing.py:99-126): alpha composites
    onto a white background."""
    w, h = 2, 1
    rgba = bytes([0]) + bytes([200, 100, 50, 255,   # opaque pixel
                               200, 100, 50, 0])    # fully transparent
    payload = _png_from_scanlines(w, h, 6, 4, [rgba])
    got = pngio.decode_png(payload)
    assert got[0, 0].tolist() == [200, 100, 50]
    assert got[0, 1].tolist() == [255, 255, 255]   # transparent → white

    ga = bytes([0]) + bytes([10, 255, 10, 0])
    got_g = pngio.decode_png(_png_from_scanlines(w, h, 4, 2, [ga]))
    assert got_g[0, 0].tolist() == [10, 10, 10]
    assert got_g[0, 1].tolist() == [255, 255, 255]


def test_palette_expansion():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])   # R, G, B entries
    rows = [bytes([0]) + bytes([0, 1, 2])]
    payload = _png_from_scanlines(3, 1, 3, 1, rows,
                                  extra_chunks=[(b"PLTE", plte)])
    got = pngio.decode_png(payload)
    assert got[0].tolist() == [[255, 0, 0], [0, 255, 0], [0, 0, 255]]


def test_unsupported_profiles_raise_named_errors():
    img = _rng_img(4, 4)
    good = pngio.encode_png(img)
    with pytest.raises(ValueError, match="bad signature"):
        pngio.decode_png(b"GIF89a" + good)
    # 16-bit depth
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    bad = (pngio._SIGNATURE + pngio._chunk(b"IHDR", ihdr16)
           + pngio._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth"):
        pngio.decode_png(bad)
    # interlaced
    ihdr_i = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    bad = (pngio._SIGNATURE + pngio._chunk(b"IHDR", ihdr_i)
           + pngio._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlaced"):
        pngio.decode_png(bad)


def test_png_decoder_validates_metadata():
    img = _rng_img(8, 6)
    payload = pngio.encode_png(img)
    dec = mm.MediaDecoder()
    assert np.array_equal(dec.decode_image(payload, 6, 8), img)
    with pytest.raises(ValueError, match="mislabeled media"):
        dec.decode_image(payload, 8, 6)  # transposed metadata


def test_image_features_end_to_end_on_real_pngs(spark):
    """The full Spark mapInPandas image path (decode → resize → band means →
    phash) over REAL PNG bytes, same output schema as the Fake path, values
    pinned against a driver-side numpy recomputation."""
    media = mm.synth_png_media(spark, n=8)
    feats = mm.image_features(media, decoder=mm.MediaDecoder())
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 8
    assert feats.columns == ["media_id", "out_width", "out_height",
                             "mean_intensity", "band_means", "phash"]

    rows = media.select("media_id", "payload", "meta.width", "meta.height"
                        ).collect()
    for r in rows:
        img = pngio.decode_png(bytes(r["payload"]))
        ow, oh = mm._resize_dims(r["width"], r["height"])
        yi = (np.arange(oh) * (r["height"] / oh)).astype(int)
        xi = (np.arange(ow) * (r["width"] / ow)).astype(int)
        small = img[yi][:, xi]
        g = got[r["media_id"]]
        assert (g["out_width"], g["out_height"]) == (ow, oh)
        assert g["mean_intensity"] == pytest.approx(float(small.mean()))
        assert max(r["width"], r["height"]) <= mm.MAX_DIMENSION or \
            max(ow, oh) == mm.MAX_DIMENSION  # downscale actually applied


def test_trns_transparency_composites_on_white():
    """tRNS (palette entry alphas / the single transparent color of
    gray/RGB images) must composite on white like the alpha color types —
    review r04: it was silently ignored."""
    import struct
    import zlib

    def chunk(ctype, data):
        import struct as st
        body = ctype + data
        return (st.pack(">I", len(data)) + body
                + st.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    def png(color_type, bpp, w, h, raw_rows, extra_chunks=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        idat = zlib.compress(b"".join(b"\x00" + r for r in raw_rows))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra_chunks
                + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

    # palette: entry 0 fully transparent red -> white; entry 1 half-green
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 200, 0]))
    trns = chunk(b"tRNS", bytes([0, 128]))
    payload = png(3, 1, 2, 1, [bytes([0, 1])], plte + trns)
    out = pngio.decode_png(payload)
    assert out[0, 0].tolist() == [255, 255, 255]
    # 0.5*200 + 0.5*255 composited green
    assert out[0, 1].tolist() == [127, (200 * 128 + 255 * 127 + 127) // 255, 127]

    # grayscale: transparent value 7 -> white, others untouched
    payload = png(0, 1, 3, 1, [bytes([7, 9, 7])],
                  chunk(b"tRNS", struct.pack(">H", 7)))
    out = pngio.decode_png(payload)
    assert out[0].tolist() == [[255] * 3, [9] * 3, [255] * 3]

    # RGB: the transparent triple -> white
    payload = png(2, 3, 2, 1, [bytes([10, 20, 30, 10, 20, 31])],
                  chunk(b"tRNS", struct.pack(">HHH", 10, 20, 30)))
    out = pngio.decode_png(payload)
    assert out[0, 0].tolist() == [255, 255, 255]
    assert out[0, 1].tolist() == [10, 20, 31]


def test_fuzzed_payloads_raise_value_error_or_decode():
    """Single/multi-byte corruption of a valid PNG either decodes or raises
    ValueError — never zlib.error/struct.error/IndexError (the module's
    error contract; fuzz-derived guards, review r04 follow-up)."""
    import random

    img = _rng_img(24, 32)
    payload = bytearray(pngio.encode_png(img))
    random.seed(7)
    for _trial in range(300):
        p = bytearray(payload)
        for _ in range(random.choice([1, 2, 5])):
            p[random.randrange(8, len(p))] = random.randrange(256)
        try:
            out = pngio.decode_png(bytes(p))
            assert out.ndim == 3 and out.shape[2] == 3
        except ValueError:
            pass


def test_malformed_trns_raises_named_errors():
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    def png(color_type, w, h, raw_rows, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        idat = zlib.compress(b"".join(b"\x00" + r for r in raw_rows))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
                + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

    with pytest.raises(ValueError, match="tRNS"):  # 1-byte gray tRNS
        pngio.decode_png(png(0, 2, 1, [bytes([1, 2])],
                             chunk(b"tRNS", b"\x01")))
    with pytest.raises(ValueError, match="tRNS"):  # short RGB tRNS
        pngio.decode_png(png(2, 1, 1, [bytes([1, 2, 3])],
                             chunk(b"tRNS", b"\x00\x01\x00\x02")))
    plte = chunk(b"PLTE", bytes([255, 0, 0]))
    with pytest.raises(ValueError, match="more entries than the palette"):
        pngio.decode_png(png(3, 1, 1, [bytes([0])],
                             plte + chunk(b"tRNS", b"\x00\x01")))


def test_zlib_bomb_fails_before_allocating():
    """A stream expanding far past the declared image size must fail at the
    bounded-inflate check, never materialize the bomb."""
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    # declares 2x1 gray (expected 2*1+1 = 3 bytes) but inflates to 10 MB
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 10_000_000)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="decompressed size"):
        pngio.decode_png(payload)
    # implausible dimensions fail before any inflate at all
    ihdr_huge = struct.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0)
    payload = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_huge)
               + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="implausible"):
        pngio.decode_png(payload)
