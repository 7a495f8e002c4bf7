"""Property-based tests (hypothesis) — no Spark session needed.

The reference uses none (SURVEY.md §5); added here because the two
pure-Python components (t-digest, spec loader) have algebraic
contracts that example tests under-cover: quantile bounds, merge ≈
single-shot, serialization faithfulness, loader never-raises."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from py_schemax_spark.functions.tdigest import TDigest, merge_all
from py_schemax_spark.specs.loader import validate_spec_dict

finite = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@settings(max_examples=50, deadline=None)
@given(st.lists(finite, min_size=1, max_size=2000))
def test_tdigest_quantiles_within_data_range(values):
    td = TDigest(100)
    td.add(np.array(values))
    lo, hi = min(values), max(values)
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        est = td.quantile(q)
        assert lo - 1e-9 <= est <= hi + 1e-9


@settings(max_examples=50, deadline=None)
@given(st.lists(finite, min_size=1, max_size=2000))
def test_tdigest_total_weight_preserved(values):
    td = TDigest(100)
    td.add(np.array(values))
    assert abs(td.total_weight - len(values)) < 1e-6


@settings(max_examples=30, deadline=None)
@given(
    st.lists(finite, min_size=10, max_size=1000),
    st.integers(min_value=2, max_value=7),
)
def test_tdigest_merge_close_to_single(values, n_parts):
    arr = np.array(values)
    single = TDigest(200)
    single.add(arr)
    parts = []
    for chunk in np.array_split(arr, n_parts):
        t = TDigest(200)
        t.add(chunk)
        parts.append(t)
    merged = merge_all(parts)
    spread = (max(values) - min(values)) or 1.0
    for q in (0.1, 0.5, 0.9):
        assert abs(merged.quantile(q) - single.quantile(q)) <= 0.15 * spread


@settings(max_examples=50, deadline=None)
@given(st.lists(finite, min_size=1, max_size=500))
def test_tdigest_serialization_faithful(values):
    td = TDigest(100)
    td.add(np.array(values))
    rt = TDigest.from_bytes(td.to_bytes())
    qs = np.linspace(0, 1, 11)
    assert np.allclose(rt.quantiles(qs), td.quantiles(qs))


@settings(max_examples=50, deadline=None)
@given(
    st.lists(finite, min_size=1, max_size=500),
    st.lists(finite, min_size=1, max_size=500),
)
@example(
    a=[0.0],
    b=[0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     0.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     1.0,
     2.2250738585e-313,
     2.225073858507e-311],
).via('discovered failure')
def test_tdigest_cdf_monotone_after_merge(a, b):
    ta, tb = TDigest(100), TDigest(100)
    ta.add(np.array(a))
    tb.add(np.array(b))
    merged = ta.merge(tb)
    xs = np.sort(np.array(a + b))
    cdf = merged.cdf(xs)
    assert (np.diff(cdf) >= -1e-12).all()


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
