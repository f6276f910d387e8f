"""Property-based codec tests (hypothesis): the invariants that must
hold for EVERY gradient, not just the fixture vectors — this is how the
codec earns trust as a distributed aggregation payload, where a single
violated invariant corrupts the whole treeReduce (SURVEY.md §2.6
observable contract; SketchGradientDescent.scala:220-282 call sites).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

import sketchmlflink_spark.ml.sketch as SK
from sketchmlflink_spark.config import SketchConfig

CFG = SketchConfig()
IDENTITY = SketchConfig(compression_type="None")

# gradients: modest dims (codec behavior doesn't depend on dim beyond
# key coding, which gets its own test), mixed scales, many exact zeros
grad = hnp.arrays(
    np.float64,
    st.integers(1, 400),
    elements=st.floats(-1e6, 1e6, allow_nan=False, width=64),
).map(lambda a: np.where(np.abs(a) < 0.5, 0.0, a))

SETTLE = settings(max_examples=60, deadline=None)


def _group_error_bound(g: np.ndarray) -> float:
    """A decompressed value is the midpoint of some bucket in its
    GROUP, so the worst error is the widest group's value range."""
    nz = g[np.abs(g) > SK.EPS]
    edges = np.quantile(nz, np.linspace(0.0, 1.0, SK.GROUPS + 1))
    return float(np.diff(edges).max() + 1e-9 * max(1.0, np.abs(nz).max()))


@given(grad)
@SETTLE
def test_roundtrip_keys_exact_and_error_bounded(g):
    sg = SK.compress(g, CFG)
    nz = np.nonzero(np.abs(g) > SK.EPS)[0]
    if nz.size == 0:
        assert sg is None  # ZeroGradient elision
        return
    ghat = SK.decompress(sg, g.shape[0])
    # keys are delta-coded, never sketched: the support is exact
    assert set(np.nonzero(ghat)[0]) <= set(nz)
    assert set(nz) <= set(np.nonzero(np.abs(ghat) > 0)[0]) | {i for i in nz if abs(g[i]) <= SK.EPS}
    assert np.max(np.abs(ghat - g)) <= _group_error_bound(g)


@given(grad)
@SETTLE
def test_identity_codec_is_lossless(g):
    sg = SK.compress(g, IDENTITY)
    ghat = SK.decompress(sg, g.shape[0])
    np.testing.assert_array_equal(ghat, np.where(np.abs(g) > SK.EPS, g, 0.0))


@given(grad, grad)
@SETTLE
def test_merge_commutes(a, b):
    dim = max(a.shape[0], b.shape[0])
    a = np.pad(a, (0, dim - a.shape[0]))
    b = np.pad(b, (0, dim - b.shape[0]))
    sa, sb = SK.compress(a, CFG), SK.compress(b, CFG)
    ab = SK.decompress(SK.merge(sa, sb, CFG, dim), dim)
    ba = SK.decompress(SK.merge(sb, sa, CFG, dim), dim)
    # quantile splits of the SAME decompress-sum are order-independent
    np.testing.assert_allclose(ab, ba, rtol=1e-12, atol=1e-12)


@given(grad)
@SETTLE
def test_merge_with_zero_is_identity(g):
    sg = SK.compress(g, CFG)
    assert SK.merge(sg, None, CFG, g.shape[0]) is sg
    assert SK.merge(None, sg, CFG, g.shape[0]) is sg


@given(grad)
@SETTLE
def test_wire_roundtrip_preserves_decompression(g):
    sg = SK.compress(g, CFG)
    back = SK.from_bytes(SK.to_bytes(sg))
    if sg is None:
        assert back is None
        return
    np.testing.assert_array_equal(
        SK.decompress(back, g.shape[0]), SK.decompress(sg, g.shape[0])
    )


@given(
    st.sets(st.integers(0, 2_000_000), min_size=1, max_size=300).map(
        lambda s: np.array(sorted(s), dtype=np.int64)
    )
)
@SETTLE
def test_key_coding_roundtrip_any_gaps(keys):
    """Delta coding with the 4-byte escape must survive arbitrary gaps
    (feature indices at 100 TB are sparse and highly irregular)."""
    np.testing.assert_array_equal(SK.decode_keys(SK.encode_keys(keys)), keys)


def _spec_encode_keys(keys: np.ndarray) -> bytes:
    """The key format's executable spec: the original per-key encoder.
    One byte per delta; a delta >= 255 is 0xFF + little-endian uint32."""
    out = bytearray()
    for d in np.diff(keys, prepend=0).astype(np.int64):
        if d < 255:
            out.append(int(d))
        else:
            out.append(255)
            out.extend(int(d).to_bytes(4, "little"))
    return bytes(out)


# gaps at and around the escape threshold, and escapes whose 4 payload
# bytes themselves contain 0xFF (0xFF00FF + 1 = 0xFF0100, 2^32 - 1 = ff ff ff ff)
EDGE_GAPS = [0, 1, 254, 255, 256, 0xFF00FF + 1, 2**32 - 1]


@given(
    st.lists(
        st.one_of(st.integers(0, 300), st.sampled_from(EDGE_GAPS), st.integers(0, 2**32 - 1)),
        max_size=200,
    ).map(lambda gaps: np.cumsum(np.array(gaps, dtype=np.int64)))
)
@settings(max_examples=300, deadline=None)
def test_key_coding_byte_identical_to_spec(keys):
    buf = SK.encode_keys(keys)
    assert buf == _spec_encode_keys(keys)
    np.testing.assert_array_equal(SK.decode_keys(buf), keys)


def test_key_coding_escape_payloads_holding_0xff():
    keys = np.cumsum(np.array([255, 0xFF00FF + 1, 2**32 - 1, 3, 256, 254], dtype=np.int64))
    buf = SK.encode_keys(keys)
    assert buf == bytes.fromhex("ff ff000000 ff 0001ff00 ff ffffffff 03 ff 00010000 fe")
    np.testing.assert_array_equal(SK.decode_keys(buf), keys)


def test_encode_keys_rejects_unsorted_keys():
    with pytest.raises(ValueError, match="sorted"):
        SK.encode_keys(np.array([5, 9, 3], dtype=np.int64))


def test_encode_keys_rejects_gap_beyond_uint32():
    with pytest.raises(ValueError, match="2\\^32"):
        SK.encode_keys(np.array([7, 7 + 2**32], dtype=np.int64))


def test_decode_keys_rejects_truncated_escape():
    with pytest.raises(ValueError, match="truncated"):
        SK.decode_keys(bytes.fromhex("01 ff 0001"))


def _wide_partition_gradient(seed: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """~44k sorted keys in 2^20 dims, like one partition's gradient in
    the wide sketch benchmark; the cut before dim - 1 forces escapes."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(0, dim, size=45_000))
    keys = np.concatenate([keys[keys < dim - 4096], [dim - 1]])
    return keys, rng.standard_normal(keys.size)


def test_wire_bytes_match_golden_digests():
    """Pins the shipped bytes of a compressed partition gradient and of
    a 6 -> 2 -> 1 re-sketching merge tree over contiguous halves
    {0,1,2} and {3,4,5} (the wide benchmark's treeReduce groups are
    {0,2,4} and {1,3,5}; the digests pin this fold). The digests cover
    the pickled envelope, so they hold for this repository's pinned
    numpy/Python versions."""
    dim = 1 << 20
    leaves = [SK.compress_kv(*_wide_partition_gradient(s, dim), CFG, dim) for s in range(6)]

    def digest(sg):
        return hashlib.sha256(SK.to_bytes(sg)).hexdigest()

    def fold(parts):
        acc = parts[0]
        for sg in parts[1:]:
            acc = SK.merge(acc, sg, CFG, dim)
        return acc

    root = SK.merge(fold(leaves[:3]), fold(leaves[3:]), CFG, dim)
    assert digest(leaves[0]) == "71eabb790dd1e73f1234fcf5a781305137fe293b8792abb298015110782c0103"
    assert digest(root) == "71df381b0f432681aaa8c8faab66140dccfbafd67f8a9d41042da38775f182d4"
