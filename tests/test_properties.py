"""Property-based tests (hypothesis) over the engine's pure kernels.

The reference has no property/randomized testing (SURVEY.md §5); these
go beyond it on the components whose correctness is a mathematical
invariant rather than a golden value: codec round-trips, sampling-
threshold monotonicity and protobuf varint/zigzag encoding. All
kernels here are pure Python/NumPy — no SparkSession per example — so
hundreds of cases run in seconds; the Spark plumbing around them is pinned by the regular
suite + the DuckDB oracles.
"""

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


# ------------------------------------------------ md5-bucket sampling

def _kept(key: int, rate: float) -> bool:
    # pure-Python mirror of ops.sampling (Spark and DuckDB both compute
    # md5 of the decimal string and compare the first 8 hex chars)
    from osmzen_spark.ops.sampling import _hex_threshold

    if rate >= 1.0:
        return True
    bucket = hashlib.md5(str(key).encode()).hexdigest()[:8]
    return bucket < _hex_threshold(rate)


@given(
    key=st.integers(min_value=0, max_value=2**62),
    r1=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    r2=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_hash_sample_monotone_in_rate(key, r1, r2):
    """A key kept at the lower rate is kept at every higher rate —
    the property that makes re-sampling a corpus at a higher rate a
    SUPERSET (no churn), which hash_sample's docstring promises."""
    lo, hi = sorted((r1, r2))
    if _kept(key, lo):
        assert _kept(key, hi)


@given(st.integers(min_value=0, max_value=2**62))
def test_hash_sample_rate_bounds(key):
    assert _kept(key, 1.0)
    assert not _kept(key, 0.0)


# ------------------------------------------------ PNG codec roundtrip

@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_exact(w, h, seed):
    from osmzen_spark.payload.images import decode_png, encode_png

    rng = np.random.RandomState(seed % 2**31)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


# ------------------------------------------------ JPEG encoder PSNR gate

@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_jpeg_encoder_meets_psnr_gate_on_smooth_images(seed):
    """The input_hint invariant on the encode path: baseline-JPEG
    encode/decode of a smooth (low-frequency) image stays >= 40 dB.
    Smooth inputs are the honest property domain — quality-90 JPEG
    only guarantees 40 dB where the signal is not adversarial noise."""
    from osmzen_spark.payload.images import psnr
    from osmzen_spark.payload.jpeg import decode_baseline, encode_baseline

    y, x = np.mgrid[0:16, 0:16]
    base = (seed % 160) + 40
    img = np.stack(
        [np.clip(base + 2 * x + 3 * y + c * 5, 0, 255) for c in range(3)], axis=2
    ).astype(np.uint8)
    out = decode_baseline(encode_baseline(img, quality=90))
    assert psnr(out, img) >= 40.0


# ------------------------------------------------ varint / zigzag

@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_varint_roundtrip(v):
    from osmzen_spark.sinks.mvt import _varint

    data = _varint(v)
    # reference decoder: little-endian base-128
    out, shift = 0, 0
    for b in data:
        out |= (b & 0x7F) << shift
        shift += 7
    assert out == v
    assert all(b & 0x80 for b in data[:-1]) and not (data[-1] & 0x80)


@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_zigzag_roundtrip(v):
    from osmzen_spark.sinks.mvt import _unzigzag, _zigzag

    z = _zigzag(v)
    assert z >= 0
    assert _unzigzag(z) == v


# ------------------------------------------------ luma average-hash

@given(st.integers(min_value=0, max_value=255))
def test_ahash_uniform_image_is_zero(v):
    """No pixel of a constant image is STRICTLY above the mean, so the
    average-hash must be exactly 0 — the tie rule both the Spark op and
    the DuckDB oracle implement as 64*luma > total."""
    from osmzen_spark.payload.images import luma_ahash64

    img = np.full((8, 8, 3), v, dtype=np.uint8)
    assert luma_ahash64(img) == 0


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=63))
def test_ahash_single_bright_pixel_sets_exactly_that_bit(pos):
    from osmzen_spark.payload.images import luma_ahash64

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[pos // 8, pos % 8] = 255
    got = luma_ahash64(img)
    assert got == np.int64(np.uint64(1) << np.uint64(pos)).item()
