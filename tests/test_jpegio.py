"""jpegio: real baseline-JPEG codec — spec-level pins (Annex K tables,
canonical Huffman assignment, zigzag), round-trip fidelity bounds, the
subsampling/restart paths, and the end-to-end Spark feature run over real
JPEG bytes (the decoder-seam completeness item, VERDICT r03 #2)."""

from __future__ import annotations

import numpy as np
import pytest

from br_doc_ocr_spark.ops import jpegio
from br_doc_ocr_spark.ops import multimodal as mm


def _gradient_rgb(h: int, w: int, seed: int = 0) -> np.ndarray:
    # the ONE synthetic-image recipe (multimodal._synth_gradient) — this
    # wrapper only adapts the (h, w) argument order the tests read best
    return mm._synth_gradient(seed, w, h)


# ---------------------------------------------------------------------------
# Spec-level pins (ITU T.81 public values)
# ---------------------------------------------------------------------------

def test_zigzag_is_a_permutation_with_known_anchors():
    zz = jpegio.ZIGZAG
    assert sorted(zz.tolist()) == list(range(64))
    # T.81 Figure 5 anchors: starts 0,1,8,16,9,2 and ends ...55,62,63
    assert zz[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert zz[-3:].tolist() == [55, 62, 63]


def test_quality_50_quant_equals_annex_k_exactly():
    q = jpegio._scaled_quant(jpegio.QUANT_LUMA, 50)
    assert (q == jpegio.QUANT_LUMA).all()
    qc = jpegio._scaled_quant(jpegio.QUANT_CHROMA, 50)
    assert (qc == jpegio.QUANT_CHROMA).all()
    # quality 100 floors at all-ones (lossless-est baseline)
    assert (jpegio._scaled_quant(jpegio.QUANT_LUMA, 100) == 1).all()


def test_canonical_huffman_assignment_known_codes():
    """The DC luminance table's canonical codes are worked out in many
    public references: category 0 -> '00' (len 2), 1 -> '010', 2 -> '011',
    3 -> '100', 4 -> '101', 5 -> '110', 6 -> '1110', ... 11 -> all-ones
    9-bit prefix chain."""
    codes = jpegio.build_huffman_codes(jpegio.DC_LUMA_BITS,
                                       jpegio.DC_LUMA_VALS)
    assert codes[0] == (0b00, 2)
    assert codes[1] == (0b010, 3)
    assert codes[5] == (0b110, 3)
    assert codes[6] == (0b1110, 4)
    assert codes[11] == (0b111111110, 9)
    # prefix-free: no code is a prefix of another
    as_bits = {format(c, f"0{ln}b") for c, ln in codes.values()}
    for a in as_bits:
        for b in as_bits:
            assert a == b or not b.startswith(a)


def test_dct_basis_is_orthonormal():
    eye = jpegio._DCT @ jpegio._DCT.T
    assert np.allclose(eye, np.eye(8), atol=1e-12)


# ---------------------------------------------------------------------------
# Round-trip fidelity
# ---------------------------------------------------------------------------

def test_flat_image_roundtrips_near_exactly():
    """A flat color is a DC-only spectrum — quantization touches only the
    DC coefficient, so the decode must be within rounding of the input."""
    img = np.full((24, 40, 3), 77, dtype=np.uint8)
    img[..., 1] = 180
    img[..., 2] = 33
    out = jpegio.decode_jpeg(jpegio.encode_jpeg(img, quality=90))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 2


def test_gradient_roundtrip_within_jpeg_error():
    img = _gradient_rgb(64, 96, seed=3)
    out = jpegio.decode_jpeg(jpegio.encode_jpeg(img, quality=90))
    err = np.abs(out.astype(int) - img.astype(int))
    assert out.shape == img.shape
    assert float(err.mean()) < 3.0
    assert int(err.max()) <= 40  # isolated ringing at the wrap seam


def test_grayscale_roundtrip():
    g = ((np.arange(48)[:, None] * 5 + np.arange(80)[None, :] * 2) % 256
         ).astype(np.uint8)
    out = jpegio.decode_jpeg(jpegio.encode_jpeg(g, quality=95))
    assert out.shape == (48, 80, 3)
    # gray decodes to replicated channels
    assert (out[..., 0] == out[..., 1]).all() and (out[..., 1] == out[..., 2]).all()
    assert float(np.abs(out[..., 0].astype(int) - g.astype(int)).mean()) < 3.0


def test_420_subsampling_decodes_through_upsampler():
    img = _gradient_rgb(50, 70, seed=5)   # odd-ish dims: pad + crop paths
    payload = jpegio.encode_jpeg(img, quality=90, subsampling="4:2:0")
    out = jpegio.decode_jpeg(payload)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert float(err.mean()) < 6.0   # chroma decimation costs fidelity
    # 4:2:0 payload is materially smaller than 4:4:4 on the same input
    assert len(payload) < len(jpegio.encode_jpeg(img, quality=90))


def test_restart_markers_roundtrip_and_appear_in_stream():
    img = _gradient_rgb(40, 120, seed=7)
    payload = jpegio.encode_jpeg(img, quality=90, restart_interval=3)
    # RST0..7 cycle must actually be present in the entropy stream
    assert any(payload[i] == 0xFF and 0xD0 <= payload[i + 1] <= 0xD7
               for i in range(2, len(payload) - 2))
    out = jpegio.decode_jpeg(payload)
    err = np.abs(out.astype(int) - img.astype(int))
    assert float(err.mean()) < 3.0


def test_trailing_garbage_restart_segment_raises():
    """Appended entropy segments beyond the frame's MCU count must raise,
    not decode 'successfully' while silently skipping the surplus (review
    r05: a bogus `FF D3 ...` block injected before EOI used to return
    pixels identical to the clean file)."""
    img = _gradient_rgb(32, 32, seed=3)
    payload = jpegio.encode_jpeg(img, quality=90, restart_interval=2)
    assert payload[-2:] == b"\xff\xd9"
    corrupted = payload[:-2] + b"\xff\xd3\x12\x34\x56" + payload[-2:]
    with pytest.raises(ValueError, match="trailing entropy segments"):
        jpegio.decode_jpeg(corrupted)


def test_garbage_inside_final_entropy_segment_raises():
    """Whole garbage bytes appended INSIDE the entropy data (before EOI,
    no extra restart segment) must raise via the unread-bits check — the
    segment-count check alone never sees this shape (review r05: both
    no-DRI and last-restart-segment injections used to decode clean)."""
    img = _gradient_rgb(32, 32, seed=4)
    # no restart interval: garbage lands in the single entropy segment
    payload = jpegio.encode_jpeg(img, quality=90)
    assert payload[-2:] == b"\xff\xd9"
    corrupted = payload[:-2] + b"\x12\x34\x56\x78" + payload[-2:]
    with pytest.raises(ValueError, match="continues past the final MCU"):
        jpegio.decode_jpeg(corrupted)
    # with restarts: garbage lands inside the LAST segment (count unchanged)
    payload = jpegio.encode_jpeg(img, quality=90, restart_interval=2)
    corrupted = payload[:-2] + b"\x12\x34\x56\x78" + payload[-2:]
    with pytest.raises(ValueError, match="continues past the final MCU"):
        jpegio.decode_jpeg(corrupted)


def test_quality_ladder_orders_sizes_and_errors():
    img = _gradient_rgb(64, 64, seed=1)
    sizes, errs = [], []
    for q in (30, 60, 90):
        p = jpegio.encode_jpeg(img, quality=q)
        sizes.append(len(p))
        errs.append(float(np.abs(
            jpegio.decode_jpeg(p).astype(int) - img.astype(int)).mean()))
    assert sizes[0] < sizes[1] < sizes[2]
    assert errs[0] > errs[2]


# ---------------------------------------------------------------------------
# Unsupported-profile seams
# ---------------------------------------------------------------------------

def test_progressive_raises_named_error():
    img = _gradient_rgb(16, 16)
    payload = bytearray(jpegio.encode_jpeg(img))
    # rewrite the SOF0 marker (FFC0) to SOF2 (FFC2 = progressive)
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpegio.decode_jpeg(bytes(payload))


def test_bad_signature_raises():
    with pytest.raises(ValueError, match="SOI"):
        jpegio.decode_jpeg(b"\x89PNG\r\n\x1a\n")


def test_16bit_quant_table_raises():
    img = _gradient_rgb(16, 16)
    payload = bytearray(jpegio.encode_jpeg(img))
    i = payload.find(b"\xff\xdb")
    payload[i + 4] |= 0x10   # Pq=1: 16-bit table
    with pytest.raises(ValueError, match="16-bit"):
        jpegio.decode_jpeg(bytes(payload))


# ---------------------------------------------------------------------------
# Decoder seam + end-to-end Spark feature run on real JPEG bytes
# ---------------------------------------------------------------------------

def test_jpeg_decoder_validates_metadata():
    img = _gradient_rgb(8, 6)
    payload = jpegio.encode_jpeg(img, quality=95)
    dec = mm.MediaDecoder()
    out = dec.decode_image(payload, 6, 8)
    assert out.shape == (8, 6, 3)
    with pytest.raises(ValueError, match="mislabeled media"):
        dec.decode_image(payload, 8, 6)  # transposed metadata


def test_image_decoder_sniffs_formats():
    from br_doc_ocr_spark.ops import pngio

    img = _gradient_rgb(8, 6)
    dec = mm.MediaDecoder()
    png = dec.decode_image(pngio.encode_png(img), 6, 8)
    jpg = dec.decode_image(jpegio.encode_jpeg(img, quality=95), 6, 8)
    assert np.array_equal(png, img)           # PNG is lossless
    assert np.abs(jpg.astype(int) - img.astype(int)).mean() < 4.0
    with pytest.raises(ValueError, match="unrecognized image payload"):
        dec.decode_image(b"GIF89a....", 6, 8)


def test_image_features_end_to_end_on_real_jpegs_mixed_with_pngs(spark):
    """The full Spark mapInPandas image path over a MIXED media table of
    real JPEG and real PNG bytes through the sniffing MediaDecoder — same
    output schema as the Fake path, values pinned against a driver-side
    numpy recomputation of the decode+resize+mean."""
    jpegs = mm.synth_jpeg_media(spark, n=6)
    pngs = mm.synth_png_media(spark, n=4)
    media = jpegs.unionByName(
        pngs.selectExpr("media_id + 100 AS media_id", "kind", "payload", "meta"))
    feats, _ = mm.image_features(media)
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 10
    assert feats.columns == ["media_id", "out_width", "out_height",
                             "mean_intensity", "band_means", "phash"]

    dec = mm.MediaDecoder()
    rows = media.select("media_id", "payload", "meta.width", "meta.height"
                        ).collect()
    for r in rows:
        img = dec.decode_image(bytes(r["payload"]), r["width"], r["height"])
        ow, oh = mm._resize_dims(r["width"], r["height"])
        yi = (np.arange(oh) * (r["height"] / oh)).astype(int)
        xi = (np.arange(ow) * (r["width"] / ow)).astype(int)
        small = img[yi][:, xi]
        g = got[r["media_id"]]
        assert (g["out_width"], g["out_height"]) == (ow, oh)
        assert g["mean_intensity"] == pytest.approx(float(small.mean()))


def test_library_decoder_falls_back_to_builtin_codecs_without_pil():
    """Table formats always decode through the built-in codecs, so the same
    bytes give the same pixels whether or not PIL is installed."""
    payload = jpegio.encode_jpeg(_gradient_rgb(8, 6), quality=95)
    out = mm.MediaDecoder().decode_image(payload, 6, 8)
    assert np.array_equal(out, jpegio.decode_jpeg(payload))


def test_truncated_payloads_raise_value_error_not_index_error():
    img = _gradient_rgb(24, 24)
    full = jpegio.encode_jpeg(img, quality=90)
    # cut mid-scan (after the SOS header) and mid-header
    sos = full.find(b"\xff\xda")
    for cut in (sos + 20, sos + 2, len(full) // 2, 30):
        with pytest.raises(ValueError, match="JPEG"):
            jpegio.decode_jpeg(full[:cut])


def test_fill_bytes_before_markers_are_legal():
    """T.81 B.1.1.2: markers may be padded with extra 0xFF bytes."""
    img = _gradient_rgb(16, 16)
    full = jpegio.encode_jpeg(img, quality=90)
    i = full.find(b"\xff\xdb")           # pad before the first DQT
    padded = full[:i] + b"\xff\xff\xff" + full[i:]
    out = jpegio.decode_jpeg(padded)
    assert np.array_equal(out, jpegio.decode_jpeg(full))


def test_fill_bytes_inside_entropy_data_before_restart_marker():
    """T.81 B.1.1.2 allows 0xFF fill bytes before ANY marker — including a
    restart marker inside the entropy-coded scan, where the bit reader (not
    the header walker) must skip them (ADVICE r04: FF FF inside the scan
    raised 'unexpected marker 0xFFFF' on spec-legal third-party JPEGs)."""
    img = _gradient_rgb(32, 32, seed=3)
    full = jpegio.encode_jpeg(img, quality=90, restart_interval=2)
    sos = full.find(b"\xff\xda")
    rst = full.find(b"\xff\xd0", sos)
    assert rst > 0, "restart interval 2 must emit RST markers"
    padded = full[:rst] + b"\xff\xff" + full[rst:]
    assert np.array_equal(jpegio.decode_jpeg(padded),
                          jpegio.decode_jpeg(full))


def test_fractional_subsampling_raises_named_error():
    """Spec-legal but unsupported sampling ratios (3x1 luma vs 2x1 chroma)
    must raise the named ValueError at SOF parse, not a numpy shape
    mismatch in the upsampler (ADVICE r04)."""
    img = _gradient_rgb(24, 24)
    payload = bytearray(jpegio.encode_jpeg(img, quality=90,
                                           subsampling="4:4:4"))
    sof = payload.find(b"\xff\xc0")
    assert sof > 0
    seg = sof + 4                      # skip marker + length
    assert payload[seg + 7] == 0x11    # comp0 h=1 v=1 (4:4:4)
    payload[seg + 7] = 0x31            # comp0 → 3x1
    payload[seg + 10] = 0x21           # comp1 → 2x1: 3 % 2 → fractional
    with pytest.raises(ValueError, match="fractional subsampling"):
        jpegio.decode_jpeg(bytes(payload))


# ---------------------------------------------------------------------------
# Property-based: round-trip totality and fuzzed-payload robustness
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    quality=st.integers(min_value=70, max_value=95),
    sub=st.sampled_from(["4:4:4", "4:2:0"]),
    rst=st.sampled_from([0, 2, 5]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_roundtrip_total_over_random_images(h, w, quality, sub, rst, seed):
    """encode→decode never crashes and stays shape-exact + error-bounded
    for ANY dimensions (odd, 1-pixel, non-MCU-aligned), subsampling,
    restart interval and random pixel content (noise is JPEG's worst
    case, so the error bound is loose — the property is totality)."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = jpegio.decode_jpeg(
        jpegio.encode_jpeg(img, quality=quality, subsampling=sub,
                           restart_interval=rst))
    assert out.shape == img.shape
    err = float(np.abs(out.astype(int) - img.astype(int)).mean())
    # calibrated empirically: uniform noise at q70 + 4:2:0 (the worst corner
    # of the strategy) CONVERGES to mean-abs error ~47-50 regardless of
    # size — chroma decimation alone costs that much on noise (measured
    # min/max over 5 seeds: 47.5-49.8 at 20x20, 46.7-47.9 at 128x128).
    # Tiny images additionally lack pixels for the error to average out
    # (hypothesis found 51.5 at 4x16/q70/4:2:0), hence the looser bound
    # below 400 px. The property under test is totality, not fidelity.
    assert err < (55.0 if h * w >= 400 else 100.0)


@settings(max_examples=60, deadline=None)
@given(
    pos=st.integers(min_value=2, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
)
def test_fuzzed_payloads_raise_value_error_or_decode(pos, val):
    """Single-byte corruption anywhere in a valid JPEG either still decodes
    or raises ValueError with JPEG context — never IndexError/struct.error/
    KeyError/ZeroDivisionError (the module's error contract), and never a
    runaway allocation (implausible-dimension guard)."""
    img = _gradient_rgb(24, 32, seed=9)
    payload = bytearray(jpegio.encode_jpeg(img, quality=85))
    payload[pos % len(payload)] = val
    try:
        out = jpegio.decode_jpeg(bytes(payload))
        assert out.ndim == 3 and out.shape[2] == 3
    except ValueError:
        pass


def test_image_features_on_error_skip_quarantines_rows(spark):
    """One corrupt blob in a media table drops that ROW under
    on_error='skip' (the 100-TB posture, SCALE.md) and fails the task
    under the default on_error='raise'."""
    media = mm.synth_jpeg_media(spark, n=4)
    corrupt = media.selectExpr(
        "media_id + 50 AS media_id", "kind",
        "cast('not an image at all' as binary) AS payload", "meta")
    mixed = media.unionByName(corrupt.limit(1))
    good = mm.image_features(mixed, on_error="skip")[0].collect()
    assert sorted(r["media_id"] for r in good) == [0, 1, 2, 3]
    with pytest.raises(Exception, match="unrecognized image payload"):
        mm.image_features(mixed)[0].collect()
    with pytest.raises(ValueError, match="on_error"):
        mm.image_feature_kernel(on_error="quarantine")


def test_image_features_on_error_skip_quarantines_oserror(spark):
    """PIL's UnidentifiedImageError subclasses OSError, not ValueError — the
    quarantine must catch it too, or with PIL installed one corrupt blob
    still kills the partition (ADVICE r04). Simulated with a decoder that
    raises OSError directly (PIL may be absent here). The skip is counted
    by exception class in the returned tally, beside the kept rows."""

    class OsErrorDecoder(mm.FakeDecoder):
        def decode_image(self, payload, width, height):
            if payload == b"bad":
                raise OSError("cannot identify image file")
            return super().decode_image(payload, width, height)

    media = mm.synth_media(spark, n=6).filter("kind = 'image'")
    corrupt = media.selectExpr(
        "media_id + 50 AS media_id", "kind",
        "cast('bad' as binary) AS payload", "meta").limit(1)
    mixed = media.unionByName(corrupt)
    feats, tally = mm.image_features(mixed, decoder=OsErrorDecoder(),
                                     on_error="skip")
    good = feats.collect()
    assert sorted(r["media_id"] for r in good) == [0, 3]
    counts = tally.value.values()
    assert sum(c["skipped_OSError"] for c in counts) == 1
    assert sum(c["row_count"] for c in counts) == len(good)
    with pytest.raises(Exception, match="cannot identify image file"):
        mm.image_features(mixed, decoder=OsErrorDecoder())[0].collect()


def test_oversubscribed_dht_raises_value_error():
    """A DHT declaring more codes than the canonical space holds (e.g. 3
    one-bit codes) must raise the named ValueError — the r05 LUT build
    over-indexed its table and raised IndexError, which escapes the image
    kernels' (ValueError, OSError) row quarantine and would let one corrupt
    blob kill a streaming trigger (review r05)."""
    img = _gradient_rgb(16, 16)
    payload = bytearray(jpegio.encode_jpeg(img, quality=90))
    dht = payload.find(b"\xff\xc4")
    assert dht > 0
    # BITS[1..16] live 5 bytes past the marker (marker 2 + length 2 +
    # tc/th 1). Keep sum(BITS) constant (else the segment-length check
    # fires first): Annex-K DC luma is (0, 1, 5, ...) — rewrite to
    # (3, 1, 2, ...): 3 one-bit codes is canonically impossible (space
    # holds 2)
    assert payload[dht + 5:dht + 8] == bytes([0, 1, 5])
    payload[dht + 5] = 3
    payload[dht + 7] = 2
    with pytest.raises(ValueError, match="over-subscribed"):
        jpegio.decode_jpeg(bytes(payload))
