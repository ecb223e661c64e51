"""Property-based tests (hypothesis) over the engine's pure kernels.

The reference has no property/randomized testing (SURVEY.md §5); these
go beyond it on the components whose correctness is a mathematical
invariant rather than a golden value: protobuf varint/zigzag encoding.
All kernels here are pure Python — no SparkSession per example — so
hundreds of cases run in seconds; the Spark plumbing around them is
pinned by the regular suite + the DuckDB oracles.
"""

from hypothesis import given
from hypothesis import strategies as st


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
    from osmzen_spark.sinks.mvt import _zigzag
    from tests_util_mvt import _unzigzag

    z = _zigzag(v)
    assert z >= 0
    assert _unzigzag(z) == v
