"""Property-based checks (hypothesis) that the whole-batch numpy
kernels behind the hash converters, the samplers and iForest scoring
equal their scalar specifications bit for bit.

The kernels run without Spark, so each property checks many drawn
batches directly.
"""

import math
import re

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from opentelemetry_collector_contrib_spark.functions import hashes as H
from opentelemetry_collector_contrib_spark.operators import anomaly as A

KERNELS = [
    (H.fnv1a_32_kernel, H.fnv1a_32),
    (H.fnv1a_64_kernel, H.fnv1a_64),
    (H.murmur3_32_kernel, H.murmur3_32),
    (H.murmur3_x64_128_kernel, H.murmur3_x64_128),
]

# UTF-8-encodable text up to 70 code points: crosses the 4-, 8- and
# 16-byte block tails, and non-ASCII code points stretch it further
text = st.text(st.characters(codec="utf-8"), max_size=70)
ascii_text = st.text(st.characters(codec="ascii"), max_size=70)
hex_text = st.binary(max_size=35).map(bytes.hex).flatmap(
    lambda h: st.sampled_from([h, h.upper(), f" {h}", f"{h[:2]} {h[2:]}"]))
batches = st.lists(st.one_of(st.none(), text, ascii_text, st.just("")),
                   max_size=40)
# the fnv_seed sampler's seed (le32) and tail-sampling's salt
prefixes = st.one_of(st.just(b""), st.integers(0, 2**32 - 1).map(
    lambda s: s.to_bytes(4, "little")), st.binary(max_size=20))


def _as_ints(h, null):
    return [None if n else (tuple(int(x) for x in row) if np.ndim(row)
                            else int(row))
            for row, n in zip(h, null)]


def _spec(scalar, values, prefix=b"", raw_hex=False):
    out = []
    for v in values:
        if v is None:
            out.append(None)
            continue
        raw = v.encode("utf-8")
        if raw_hex and re.fullmatch(r"(?:[0-9a-fA-F]{2})+", v):
            raw = bytes.fromhex(v)
        out.append(scalar(prefix + raw))
    return out


@settings(max_examples=150, deadline=None)
@given(batches, prefixes)
def test_hash_kernels_equal_scalar_spec(values, prefix):
    s = pd.Series(values, dtype=object)
    for kernel, scalar in KERNELS:
        h, null = H.hash_batch(kernel, s, prefix)
        assert null.tolist() == [v is None for v in values]
        assert _as_ints(h, null) == _spec(scalar, values, prefix)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.one_of(st.none(), hex_text, ascii_text), max_size=40),
       prefixes)
def test_raw_hex_rule_equals_go_decode(values, prefix):
    """Strings Go's hex.DecodeString accepts hash their decoded bytes;
    anything else (whitespace, odd length, empty) its UTF-8 bytes."""
    s = pd.Series(values, dtype=object)
    for kernel, scalar in KERNELS[:2]:
        h, null = H.hash_batch(kernel, s, prefix, raw_hex=True)
        assert _as_ints(h, null) == _spec(scalar, values, prefix, True)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 12))
def test_all_null_and_empty_batches(n):
    s = pd.Series([None] * n, dtype=object)
    fnv = H._fnv1a64_batch(s)
    assert len(fnv) == n and fnv.isna().all()
    assert H._murmur3_hex_batch(s).tolist() == [None] * n
    assert H._murmur3_128_hex_batch(s).tolist() == [None] * n
    for kernel, _ in KERNELS:
        h, null = H.hash_batch(kernel, s, b"seed", raw_hex=True)
        assert len(h) == n and null.all()


@settings(max_examples=60, deadline=None)
@given(batches)
def test_converter_outputs_equal_scalar_spec(values):
    """The UDF bodies' rendering: FNV as signed int64, Murmur3 as
    little-endian hex of h (32) or h1 then h2 (128)."""
    s = pd.Series(values, dtype=object)
    fnv = H._fnv1a64_batch(s)
    assert [None if pd.isna(v) else int(v) for v in fnv] == [
        None if u is None else u - (1 << 64) if u >= 1 << 63 else u
        for u in _spec(H.fnv1a_64, values)]
    assert H._murmur3_hex_batch(s).tolist() == [
        None if u is None else u.to_bytes(4, "little").hex()
        for u in _spec(H.murmur3_32, values)]
    assert H._murmur3_128_hex_batch(s).tolist() == [
        None if u is None else
        u[0].to_bytes(8, "little").hex() + u[1].to_bytes(8, "little").hex()
        for u in _spec(H.murmur3_x64_128, values)]


def score_point_bits(model, x):
    return int(np.float64(A.score_point(model, x)).view(np.int64))


feature = st.one_of(st.none(), st.just(math.nan),
                    st.integers(-3, 3).map(float),
                    st.floats(-1e6, 1e6, allow_nan=False))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(feature, feature), min_size=1, max_size=80),
       st.lists(st.tuples(feature, feature), max_size=60),
       st.integers(1, 6), st.integers(1, 32), st.integers(0, 99))
def test_iforest_batch_equals_score_point(fit_rows, rows, trees, psi, seed):
    """score_batch over a whole batch == score_point per row, bit for
    bit; None/NaN features score as 0.0 as in the fit sample."""
    def clean(v):
        return 0.0 if v is None or math.isnan(v) else v
    samples = [tuple(clean(v) for v in r) for r in fit_rows]
    model = A.fit_isolation_forest(samples, trees, psi, seed)
    X = A._feature_matrix([pd.Series([r[j] for r in rows], dtype=object)
                           for j in range(2)])
    got = A.score_batch(A.flatten_forest(model), X)
    want = [score_point_bits(model, [clean(v) for v in r]) for r in rows]
    assert got.view(np.int64).tolist() == want


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 40), st.floats(-5, 5), st.integers(1, 5))
def test_iforest_single_leaf_trees(n, value, trees):
    """Constant fit data gives single-leaf trees: every row's path
    length is c(psi), in both scorers."""
    model = A.fit_isolation_forest([(value, 1.0)] * n, trees, 16, 3)
    assert all(len(t) == 1 for t in model["trees"])
    X = np.array([[value, 1.0], [value + 1.0, -2.0], [0.0, 0.0]])
    got = A.score_batch(A.flatten_forest(model), X)
    assert got.view(np.int64).tolist() == [
        score_point_bits(model, list(x)) for x in X]
