"""Baseline JPEG codec (payload/jpeg.py): exact coefficient-domain
roundtrips (the oracle contract), the PSNR>=40dB payload gate on the
lossy float-DCT path, subsampling, grayscale, and the synthetic jpeg
rows' phash integrity."""

import numpy as np
import pytest

from osmzen_spark.payload.images import luma_ahash64, psnr
from osmzen_spark.payload.jpeg import (
    QUANT_CHROMA,
    QUANT_LUMA,
    decode_baseline,
    encode_baseline,
    encode_from_coefficients,
    idct8x8_int,
    ycbcr_to_rgb_int,
)

Q16 = np.full((8, 8), 16, dtype=np.int64)


def _closed_form(coefs):
    planes = [idct8x8_int(c * Q16).astype(np.int64) for c in coefs]
    return ycbcr_to_rgb_int(planes[0], planes[1], planes[2])


def test_coefficient_roundtrip_exact():
    """decode(encode_from_coefficients(C)) must equal the integer
    IDCT + fixed-point color convert of C — the exactness the DuckDB
    pixel oracle relies on."""
    rng = np.random.default_rng(7)
    for _ in range(25):
        coefs = []
        for _c in range(3):
            m = np.zeros((8, 8), dtype=np.int64)
            m[0, 0] = rng.integers(-64, 64)
            m[0, 1] = rng.integers(-4, 5)
            m[1, 0] = rng.integers(-4, 5)
            m[1, 1] = rng.integers(-2, 3)
            coefs.append(m)
        img = decode_baseline(encode_from_coefficients(coefs, Q16, Q16))
        assert np.array_equal(img, _closed_form(coefs))


def test_coefficient_roundtrip_dense_blocks():
    """Full-AC blocks (all 64 positions populated) exercise the
    Huffman run-length path incl. ZRL and no-EOB blocks."""
    rng = np.random.default_rng(13)
    coefs = [rng.integers(-8, 9, size=(8, 8)).astype(np.int64) for _ in range(3)]
    img = decode_baseline(encode_from_coefficients(coefs, Q16, Q16))
    assert np.array_equal(img, _closed_form(coefs))


def test_psnr_gate_pattern():
    seed = 987654
    xs = np.arange(8)
    ys = np.arange(8)
    pat = (
        (seed + 7 * xs[None, :, None] + 13 * ys[:, None, None] + 29 * np.arange(3)[None, None, :])
        % 256
    ).astype(np.uint8)
    for q in (85, 95):
        out = decode_baseline(encode_baseline(pat, quality=q))
        assert psnr(pat, out) >= 40.0


def test_psnr_gate_gradient_444_and_420():
    g = np.zeros((48, 40, 3), np.uint8)  # not MCU-aligned in 420
    yy, xx = np.mgrid[0:48, 0:40]
    g[:, :, 0] = (xx * 3) % 256
    g[:, :, 1] = (yy * 4) % 256
    g[:, :, 2] = ((xx + yy) * 2) % 256
    for sub in ("444", "420"):
        out = decode_baseline(encode_baseline(g, quality=92, subsampling=sub))
        assert out.shape == g.shape
        assert psnr(g, out) >= 40.0, sub


def test_grayscale_single_component():
    m = np.zeros((8, 8), dtype=np.int64)
    m[0, 0] = 40
    m[1, 1] = -2
    img = decode_baseline(encode_from_coefficients([m], Q16, Q16))
    plane = idct8x8_int(m * Q16)
    assert np.array_equal(img, np.repeat(plane[:, :, None], 3, axis=2))


def test_non_baseline_rejected():
    # progressive SOF2 marker must raise, not mis-decode
    data = bytearray(encode_baseline(np.zeros((8, 8, 3), np.uint8)))
    idx = bytes(data).find(b"\xff\xc0")
    data[idx + 1] = 0xC2
    with pytest.raises(NotImplementedError):
        decode_baseline(bytes(data))


def test_annex_k_tables_shape():
    assert QUANT_LUMA.shape == (8, 8) and QUANT_CHROMA.shape == (8, 8)
    assert QUANT_LUMA[0, 0] == 16 and QUANT_CHROMA[0, 0] == 17


def test_datagen_jpeg_rows_phash_and_decode(spark):
    """synthetic_images now carries real JFIF rows (k % 4 == 2): the
    stored phash must equal the REAL average-hash of the DECODED
    pixels, and the byte stream must decode through the generic
    decoder (not the closed form)."""
    from synthetic import SF_SMALL, synthetic_images

    imgs = synthetic_images(spark, SF_SMALL)
    rows = imgs.filter("fmt = 'jpeg'").limit(8).collect()
    assert rows, "expected jpeg rows in the synthetic payload"
    for r in rows:
        img = decode_baseline(bytes(r["bytes"]))
        assert img.shape == (8, 8, 3)
        assert luma_ahash64(img) == r["phash"]
    fmts = {row["fmt"] for row in imgs.select("fmt").distinct().collect()}
    assert fmts == {"raw", "png", "jpeg"}
