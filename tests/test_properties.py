"""Property-based tests (hypothesis) over the engine's pure kernels.

The reference has no property/randomized testing (SURVEY.md §5); these
go beyond it on the components whose correctness is a mathematical
invariant rather than a golden value: sampling-threshold
monotonicity and protobuf varint/zigzag encoding. All kernels here are
pure Python — no SparkSession per example — so hundreds of cases run
in seconds; the Spark plumbing around them is pinned by the regular
suite + the DuckDB oracles.
"""

import hashlib

from hypothesis import given
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
