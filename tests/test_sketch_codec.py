"""Sketch codec unit tests (no Spark) — SURVEY.md §5 / FIXTURES.md §3:
round-trip error bounds, merge ≈ sum, nnz preservation, zero elision,
delta key coding, identity path."""

from __future__ import annotations

import numpy as np
import pytest

from sketchmlflink_spark.config import SketchConfig
from sketchmlflink_spark.ml import sketch as SK


# auto_fallback_nnz=0 forces the sketch path even on narrow fixtures —
# these tests exercise the codec, not the fallback heuristic
CFG = SketchConfig(auto_fallback_nnz=0)
IDENTITY = SketchConfig(compression_type="None")


def group_error_bound(values: np.ndarray) -> float:
    """Worst-case codec error: a MinMaxSketch collision stays within the
    value range of one quantile group (SURVEY.md §2.6)."""
    nz = values[np.abs(values) > SK.EPS]
    qs = np.linspace(0, 1, SK.GROUPS + 1)
    edges = np.quantile(nz, qs)
    widths = np.diff(edges)
    return float(widths.max()) + 1e-12


@pytest.mark.parametrize("dim", [10, 100, 10_000])
def test_roundtrip_bounded_error(dim):
    rng = np.random.default_rng(42)
    g = rng.standard_normal(dim)
    g[rng.random(dim) < 0.5] = 0.0  # sparsify
    if not (np.abs(g) > SK.EPS).any():
        g[0] = 1.0
    sg = SK.compress(g, CFG)
    ghat = SK.decompress(sg, dim)
    # nnz key set preserved exactly (keys are delta-coded, not sketched)
    assert set(np.nonzero(ghat)[0]) == set(np.nonzero(np.abs(g) > SK.EPS)[0])
    bound = group_error_bound(g)
    err = np.max(np.abs(ghat - g))
    assert err <= bound, f"round-trip error {err} exceeds group bound {bound}"


def test_heavy_tailed_and_uniform_values():
    rng = np.random.default_rng(7)
    heavy = rng.standard_cauchy(5000)
    uniform = np.full(100, 3.14)
    for g in (heavy, uniform):
        sg = SK.compress(g, CFG)
        ghat = SK.decompress(sg, g.shape[0])
        assert ghat.shape == g.shape
        # uniform (degenerate quantiles) must round-trip exactly
        if np.unique(g).size == 1:
            np.testing.assert_allclose(ghat, g, rtol=1e-9)


def test_single_nnz():
    g = np.zeros(1000)
    g[123] = -2.5
    ghat = SK.decompress(SK.compress(g, CFG), 1000)
    assert np.nonzero(ghat)[0].tolist() == [123]
    assert abs(ghat[123] + 2.5) < 1e-9


def test_zero_gradient_elision():
    # all-zero never reaches the codec: compress returns None (SGD:203)
    assert SK.compress(np.zeros(50), CFG) is None
    assert SK.decompress(None, 50).tolist() == [0.0] * 50


def test_identity_compression_exact():
    rng = np.random.default_rng(1)
    g = rng.standard_normal(256)
    ghat = SK.decompress(SK.compress(g, IDENTITY), 256)
    np.testing.assert_allclose(ghat, g, rtol=0, atol=0)


def test_merge_approximates_sum_and_is_commutative():
    rng = np.random.default_rng(3)
    a = rng.standard_normal(500)
    b = rng.standard_normal(500)
    sa, sb = SK.compress(a, CFG), SK.compress(b, CFG)
    m1 = SK.decompress(SK.merge(sa, sb, CFG, 500), 500)
    m2 = SK.decompress(SK.merge(sb, sa, CFG, 500), 500)
    # commutative within tolerance (both arms re-sketch the same sum)
    np.testing.assert_allclose(m1, m2, atol=1e-9)
    bound = group_error_bound(a) + group_error_bound(b) + group_error_bound(a + b)
    assert np.max(np.abs(m1 - (a + b))) <= bound


def test_merge_with_zero_is_identity():
    rng = np.random.default_rng(4)
    a = rng.standard_normal(64)
    sa = SK.compress(a, CFG)
    assert SK.merge(sa, None, CFG, 64) is sa
    assert SK.merge(None, sa, CFG, 64) is sa


def test_delta_key_coding_roundtrip():
    keys = np.array([0, 1, 2, 300, 301, 70000, 70001], dtype=np.int64)
    assert SK.decode_keys(SK.encode_keys(keys)).tolist() == keys.tolist()
    assert SK.encode_keys(np.array([], dtype=np.int64)) == b""
    assert SK.decode_keys(b"").size == 0


def test_payload_smaller_than_dense():
    """The codec's reason to exist: sketched payload ≪ dense float64."""
    rng = np.random.default_rng(5)
    dim = 100_000
    g = np.where(rng.random(dim) < 0.9, rng.standard_normal(dim), 0.0)
    sg = SK.compress(g, CFG)
    dense_bytes = dim * 8
    assert len(SK.to_bytes(sg)) < dense_bytes / 4, (
        f"sketch {len(SK.to_bytes(sg))}B vs dense {dense_bytes}B"
    )


def test_serialization_roundtrip():
    rng = np.random.default_rng(6)
    g = rng.standard_normal(128)
    sg = SK.compress(g, CFG)
    sg2 = SK.from_bytes(SK.to_bytes(sg))
    np.testing.assert_allclose(SK.decompress(sg2, 128), SK.decompress(sg, 128))
    assert SK.from_bytes(SK.to_bytes(None)) is None


def test_kv_codec_at_physically_impossible_dim():
    """compress_kv / merge / decompress_kv at dim 2^33: a dense buffer
    would be 64 GiB, so the mere fact this runs proves the kv path
    never densifies on the combine/ship side (the dense model vector
    at the DRIVER is the only dim-sized structure in training, by
    design)."""
    import numpy as np

    from sketchmlflink_spark.config import SketchConfig
    from sketchmlflink_spark.ml import sketch as SK

    dim = 1 << 33
    cfg = SketchConfig(compression_type="Sketch", auto_fallback_nnz=0)
    rng = np.random.default_rng(3)
    ka = np.unique(rng.integers(0, dim, 1500))
    kb = np.unique(rng.integers(0, dim, 1500))
    a = SK.compress_kv(ka, rng.normal(size=ka.size), cfg, dim)
    b = SK.compress_kv(kb, rng.normal(size=kb.size), cfg, dim)
    assert len(SK.to_bytes(a)) < 200_000 and len(SK.to_bytes(b)) < 200_000

    m = SK.merge(a, b, cfg, dim)
    assert len(SK.to_bytes(m)) < 400_000
    keys, vals = SK.decompress_kv(m)
    assert set(keys) == set(np.concatenate([ka, kb]))
    assert vals.shape == keys.shape
    rt = SK.to_bytes(m)
    assert len(rt) < 400_000
    m2 = SK.from_bytes(rt)
    k2, v2 = SK.decompress_kv(m2)
    assert np.array_equal(k2, keys) and np.allclose(v2, vals)
