"""Property-based tests (hypothesis) — no Spark session needed.

The reference uses none (SURVEY.md §5); added here because the
pure-Python components (drift statistics, spec loader, sketch merges)
have algebraic contracts that example tests under-cover: statistic
bounds, zero on identical data, monotone fractions, loader
never-raises."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from py_schemax_spark.operators.drift import drift_statistics, psi_buckets
from py_schemax_spark.specs.loader import validate_spec_dict
from test_drift import exact_grid, grid_counts

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


#: finite values with many ties: small integers mixed with any float
tied = st.lists(
    st.one_of(st.integers(-3, 3).map(float), finite), min_size=1, max_size=300
)


@settings(max_examples=100, deadline=None)
@given(tied, tied)
def test_drift_statistics_bounded(base, cur):
    grid = exact_grid(base)
    psi, ks = drift_statistics(grid, *grid_counts(cur, grid))
    assert 0.0 <= ks <= 1.0
    assert psi >= 0.0


@settings(max_examples=100, deadline=None)
@given(tied)
def test_drift_statistics_zero_on_identical_data(values):
    """KS is exactly 0. PSI is near 0 only: the baseline side reads its
    fraction below an edge off the grid, which is up to one grid step
    (0.01) above the exact fraction."""
    grid = exact_grid(values)
    psi, ks = drift_statistics(grid, *grid_counts(values, grid))
    assert ks == 0.0
    assert psi < 0.05


@settings(max_examples=100, deadline=None)
@given(tied, tied)
def test_current_fractions_monotone_in_the_edge(base, cur):
    """The current side's fraction below an edge never falls as the
    edge rises: every bucket mass is >= 0 and they sum to 1, on both
    sides."""
    grid = exact_grid(base)
    n, lt, le = grid_counts(cur, grid)
    assert (np.diff(lt) >= 0).all() and (np.diff(le) >= 0).all()
    assert (lt <= le).all()
    for masses in psi_buckets(grid, n, lt):
        assert (masses >= 0).all()
        assert abs(masses.sum() - 1.0) < 1e-12


# --- loader total-function property -----------------------------------------

json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(min_value=-(10**9), max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda kids: st.one_of(
        st.lists(kids, max_size=5),
        st.dictionaries(st.text(max_size=10), kids, max_size=5),
    ),
    max_leaves=25,
)


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_validate_spec_dict_never_raises(doc):
    """Arbitrary JSON-shaped input → a verdict, never an exception
    (the reference likewise converts every malformed document into
    error records, validator.py:33-121)."""
    res = validate_spec_dict(doc)
    assert isinstance(res.valid, bool)
    if not res.valid:
        assert res.error_count >= 1
    for e in res.errors:
        assert e.error_at.startswith("$")


@given(
    st.lists(st.integers(0, (1 << 128) - 1), min_size=1, max_size=64),
    st.integers(8, (1 << 36)),
)
@settings(max_examples=60, deadline=None)
def test_bloom_positions_vectorized_equals_scalar(values, m_bits):
    """Property: the numpy position kernel is bit-identical to the
    scalar double-hash reference for ANY digest and ANY bitmap size —
    including the uint64-fast-path/Python-int boundary at m = 2^31."""
    import numpy as np

    from py_schemax_spark.operators.decontam import (
        _bloom_positions,
        _bloom_positions_np,
    )

    digests = [f"{v:032x}" for v in values]
    got = _bloom_positions_np(digests, m_bits)
    want = np.array([_bloom_positions(h, m_bits) for h in digests])
    assert (got == want).all()
    assert got.min() >= 0 and got.max() < m_bits


@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=400),
    st.integers(2, 12),
    st.lists(st.integers(1, 50), min_size=1, max_size=20),
)
@settings(max_examples=60, deadline=None)
def test_mg_merge_guarantee_property(vals, k, cuts):
    """Property: for ANY value stream, ANY k, and ANY batch split,
    the batched merge keeps ≤ k-1 counters that lower-bound true
    counts and never misses a value with count > N/k."""
    from collections import Counter

    from py_schemax_spark.operators.sketches import _mg_merge_batch

    stream = [f"v{v}" for v in vals]
    truth = Counter(stream)
    merged: dict = {}
    i = 0
    for c in cuts:
        if i >= len(stream):
            break
        _mg_merge_batch(merged, Counter(stream[i : i + c]), k)
        i += c
    if i < len(stream):
        _mg_merge_batch(merged, Counter(stream[i:]), k)
    n = len(stream)
    assert len(merged) <= k - 1
    for v, c in merged.items():
        assert c <= truth[v]
    for v, c in truth.items():
        if c * k > n:
            assert v in merged


@given(
    st.lists(
        st.one_of(
            st.none(), st.just(float("nan")),
            st.sampled_from(["a", "b", "nan", "None", ""]),
        ),
        min_size=1, max_size=200,
    )
)
@settings(max_examples=60, deadline=None)
@example([None, float("nan")])
def test_mg_batch_counts_merge_none_and_nan(vals):
    """Property: a batch mixing None and NaN counts both under the one
    null token — the batch counts are exact and sum to the batch size,
    and no real value (not even the strings "nan" or "None") collides
    with it."""
    from collections import Counter

    import pandas as pd

    from py_schemax_spark.operators.sketches import _batch_counts

    got = _batch_counts(pd.Series(vals, dtype=object))
    nulls = sum(1 for v in vals if not isinstance(v, str))
    want = Counter("v" + v for v in vals if isinstance(v, str))
    if nulls:
        want["n"] = nulls
    assert got == dict(want)
    assert sum(got.values()) == len(vals)
