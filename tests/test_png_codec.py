"""Vendored pure-Python PNG codec: spec-conformance and real-decode tests.

These are the 'currently-skipped PIL test' equivalents that ALWAYS run:
genuine PNG containers are encoded and decoded with stdlib-only code
(operators/png.py), so the real image-decode path executes in this
dependency-locked container instead of being dead code behind an optional
import.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_ingestion_bra_spark.operators import multimodal, png


def _pattern(n: int, seed: int) -> bytes:
    return bytes((seed * 31 + j * 7) % 256 for j in range(n))


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_all_filters_and_channels(filter_type, channels):
    w, h = 13, 9
    pix = _pattern(w * h * channels, seed=filter_type * 10 + channels)
    data = png.encode_png(w, h, pix, channels=channels, filter_type=filter_type)
    assert data[:8] == png.SIGNATURE
    dw, dh, dch, dpix = png.decode_png(data)
    assert (dw, dh, dch) == (w, h, channels)
    assert dpix == pix


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    channels=st.sampled_from([1, 2, 3, 4]),
    filter_type=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_roundtrip_property(w, h, channels, filter_type, seed):
    pix = _pattern(w * h * channels, seed=seed)
    dw, dh, dch, dpix = png.decode_png(
        png.encode_png(w, h, pix, channels=channels, filter_type=filter_type)
    )
    assert (dw, dh, dch, dpix) == (w, h, channels, pix)


def test_decode_rejects_corruption():
    data = bytearray(png.encode_png(4, 4, _pattern(48, 1), channels=3))
    with pytest.raises(ValueError, match="signature"):
        png.decode_png(b"\x00" + bytes(data[1:]))
    # flip a byte inside the IDAT payload -> CRC must catch it
    corrupt = bytearray(data)
    corrupt[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|IDAT|geometry|filter"):
        png.decode_png(bytes(corrupt))


def test_decode_rejects_out_of_scope():
    # 16-bit depth header, correctly CRC'd, must be refused not misread
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="bit depth"):
        png.decode_png(png.SIGNATURE + chunk)


def test_decode_images_with_vendored_decoder(spark):
    """A real PNG container decodes through the SAME mapInPandas batch
    contract as the stub: ``png_decode_features`` over a hand-built frame."""
    w, h, pix = multimodal._synth_pixels(5)
    payload = multimodal._synth_png_bytes(5)
    df = spark.createDataFrame([(5, bytearray(payload))], "doc_id bigint, payload binary")
    (r,) = multimodal.png_decode_features(df).collect()
    assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
    assert r["n_pixel_bytes"] == len(pix)
    assert r["mean_intensity_e6"] == (sum(pix) * 1_000_000) // (len(pix) * 255)


def test_png_real_resize_roundtrip(spark):
    """decode → nearest-neighbor resample → re-encode → re-decode: resized
    features must equal the hand-computed NN sample of the source pixels."""
    doc_id = 9
    w, h, pix = multimodal._synth_pixels(doc_id)
    payload = multimodal._synth_png_bytes(doc_id)
    df = spark.createDataFrame(
        [(doc_id, bytearray(payload))], "doc_id bigint, payload binary"
    )
    (r,) = multimodal.resize_png_images(df, width=12, height=10).collect()
    assert (r["width"], r["height"], r["channels"]) == (12, 10, 3)
    assert r["n_pixel_bytes"] == 12 * 10 * 3
    want = []
    for ty in range(10):
        sy = ty * h // 10
        for tx in range(12):
            sx = tx * w // 12
            want += pix[(sy * w + sx) * 3 : (sy * w + sx) * 3 + 3]
    assert r["mean_intensity_e6"] == (sum(want) * 1_000_000) // (len(want) * 255)


def test_png_resize_upscale_and_downscale():
    """NN resample in both directions preserves corner pixels exactly."""
    w, h, pix = 4, 4, bytes(range(48))
    data = multimodal._png_resize(
        __import__(
            "data_ingestion_bra_spark.operators.png", fromlist=["png"]
        ).encode_png(w, h, pix, channels=3),
        8,
        2,
    )
    dw, dh, dch, dpix = png.decode_png(data)
    assert (dw, dh, dch) == (8, 2, 3)
    # corner (0,0) keeps source pixel 0; row 1 maps to source row 2
    assert dpix[0:3] == pix[0:3]
    assert dpix[8 * 3 : 8 * 3 + 3] == pix[2 * 4 * 3 : 2 * 4 * 3 + 3]


@pytest.mark.skipif(
    not pytest.importorskip("importlib").util.find_spec("PIL"),
    reason="Pillow not installed",
)
def test_vendored_codec_matches_pil():
    """When Pillow IS present, its decode of our encoder's output must agree
    byte-for-byte — spec conformance checked against the reference library."""
    import io

    from PIL import Image

    for filter_type in range(5):
        w, h = 11, 6
        pix = _pattern(w * h * 3, seed=filter_type)
        data = png.encode_png(w, h, pix, channels=3, filter_type=filter_type)
        with Image.open(io.BytesIO(data)) as img:
            assert img.size == (w, h)
            assert img.tobytes() == pix
