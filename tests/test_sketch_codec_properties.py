"""Property-based codec tests (hypothesis): the invariants that must
hold for EVERY gradient, not just the fixture vectors — this is how the
codec earns trust as a distributed aggregation payload, where a single
violated invariant corrupts the whole treeReduce (SURVEY.md §2.6
observable contract; SketchGradientDescent.scala:220-282 call sites).
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import struct
import sys
import threading

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

import sketchmlflink_spark.ml.sketch as SK
from sketchmlflink_spark.config import SketchConfig

CFG = SketchConfig()
IDENTITY = SketchConfig(compression_type="None")
SKETCH = SketchConfig(auto_fallback_nnz=0)


def compress(g: np.ndarray, cfg: SketchConfig):
    """Dense gradient → sketched gradient through the sparse codec."""
    keys = np.flatnonzero(np.abs(g) > SK.EPS)
    return SK.compress_kv(keys, g[keys], cfg, g.shape[0])

# gradients: modest dims (codec behavior doesn't depend on dim beyond
# key coding, which gets its own test), mixed scales, many exact zeros
grad = hnp.arrays(
    np.float64,
    st.integers(1, 400),
    elements=st.floats(-1e6, 1e6, allow_nan=False, width=64),
).map(lambda a: np.where(np.abs(a) < 0.5, 0.0, a))

SETTLE = settings(max_examples=60, deadline=None)

# CFG's auto_fallback_nnz (512) is above ``grad``'s 400 entries, so CFG
# alone only reaches the identity path; SKETCH sketches every gradient
PATHS = st.sampled_from([CFG, SKETCH])


def _group_error_bound(g: np.ndarray) -> float:
    """A decompressed value is the midpoint of some bucket in its
    GROUP, so the worst error is the widest group's value range."""
    nz = g[np.abs(g) > SK.EPS]
    edges = np.quantile(nz, np.linspace(0.0, 1.0, SK.GROUPS + 1))
    return float(np.diff(edges).max() + 1e-9 * max(1.0, np.abs(nz).max()))


@given(grad, PATHS)
@SETTLE
def test_roundtrip_keys_exact_and_error_bounded(g, cfg):
    sg = compress(g, cfg)
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
    sg = compress(g, IDENTITY)
    ghat = SK.decompress(sg, g.shape[0])
    np.testing.assert_array_equal(ghat, np.where(np.abs(g) > SK.EPS, g, 0.0))


@given(grad, grad, PATHS)
@SETTLE
def test_merge_commutes(a, b, cfg):
    dim = max(a.shape[0], b.shape[0])
    a = np.pad(a, (0, dim - a.shape[0]))
    b = np.pad(b, (0, dim - b.shape[0]))
    sa, sb = compress(a, cfg), compress(b, cfg)
    ab = SK.decompress(SK.merge(sa, sb, cfg, dim), dim)
    ba = SK.decompress(SK.merge(sb, sa, cfg, dim), dim)
    # quantile splits of the SAME decompress-sum are order-independent
    np.testing.assert_allclose(ab, ba, rtol=1e-12, atol=1e-12)


@given(grad, PATHS)
@SETTLE
def test_merge_with_zero_is_identity(g, cfg):
    sg = compress(g, cfg)
    assert SK.merge(sg, None, cfg, g.shape[0]) is sg
    assert SK.merge(None, sg, cfg, g.shape[0]) is sg


@given(grad, PATHS)
@SETTLE
def test_wire_roundtrip_preserves_decompression(g, cfg):
    sg = compress(g, cfg)
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


def _spec_compress_kv(keys, vals, cfg, dim):
    """The codec's executable spec: ``compress_kv`` as it was when every
    key carried an int8 group id beside one sorted key list. Returns
    (keys, exact values, splits, group ids, sketches), or None."""
    keys = np.asarray(keys, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    live = np.abs(vals) > SK.EPS
    keys, vals = keys[live], vals[live]
    if keys.size == 0:
        return None
    if cfg.compression_type == "None" or keys.size < cfg.auto_fallback_nnz:
        return keys, vals.copy(), None, None, None
    order = np.argsort(vals)
    sorted_vals = vals[order]
    splits = np.quantile(sorted_vals, np.linspace(0.0, 1.0, SK.BINS + 1))
    buckets = np.empty(vals.shape[0], dtype=np.int16)
    buckets[order] = np.clip(np.searchsorted(splits, sorted_vals, side="right") - 1, 0, SK.BINS - 1)
    group_ids = (buckets.astype(np.int64) * SK.GROUPS // SK.BINS).astype(np.int8)
    sketches = []
    for g in range(SK.GROUPS):
        mask = group_ids == g
        width = max(1, int(np.ceil(SK.COL_RATIO * max(int(mask.sum()), 1))))
        sketches.append(SK.MinMaxSketch.build(keys[mask], buckets[mask], width))
    return keys, None, splits, group_ids, sketches


def _spec_decompress_kv(sg):
    keys, exact, splits, group_ids, sketches = sg
    if exact is not None:
        return keys, exact.astype(np.float64, copy=True)
    vals = np.zeros(keys.shape[0], dtype=np.float64)
    bins = splits.shape[0] - 1
    for g, sketch in enumerate(sketches):
        mask = group_ids == g
        if not mask.any():
            continue
        b = sketch.query(keys[mask]).astype(np.int64)
        vals[mask] = 0.5 * (splits[b] + splits[np.minimum(b + 1, bins)])
    return keys, vals


def _spec_merge(a, b, cfg, dim):
    if a is None:
        return b
    if b is None:
        return a
    ka, va = _spec_decompress_kv(a)
    kb, vb = _spec_decompress_kv(b)
    keys = np.concatenate([ka, kb])
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    starts = np.flatnonzero(np.concatenate([[True], keys[1:] != keys[:-1]]))
    vals = np.add.reduceat(np.concatenate([va, vb])[order], starts)
    return _spec_compress_kv(keys[starts], vals, cfg, dim)


def _assert_bit_identical(got, want):
    """Equal (keys, values) pairs, float64 bit for bit (-0.0 != 0.0)."""
    assert got[0].dtype == want[0].dtype == np.int64 and got[1].dtype == want[1].dtype == np.float64
    assert got[0].tobytes() == want[0].tobytes()
    assert got[1].tobytes() == want[1].tobytes()


@st.composite
def sparse_grads(draw, n=2):
    """``n`` sparse (keys, values) gradients over one dim: a narrow dim
    makes keys shared between gradients, a wide one forces escapes."""
    dim = draw(st.sampled_from([300, 1 << 20]))
    out = []
    for _ in range(n):
        keys = np.array(sorted(draw(st.sets(st.integers(0, dim - 1), max_size=300))), dtype=np.int64)
        vals = draw(hnp.arrays(np.float64, keys.size, elements=st.floats(-1e6, 1e6, allow_nan=False, width=64)))
        out.append((keys, np.where(np.abs(vals) < 0.5, 0.0, vals)))
    return dim, out


# auto_fallback_nnz=64 sends some operands of one merge down the
# identity path and others down the sketch path
CODECS = st.sampled_from([SKETCH, IDENTITY, SketchConfig(auto_fallback_nnz=64)])


def _wire(sg):
    return SK.from_bytes(SK.to_bytes(sg))


@given(sparse_grads(), CODECS)
@SETTLE
def test_wire_roundtrip_and_merge_bit_identical_to_spec(grads, cfg):
    """Per-group key lists change the layout, not the numbers: a wire
    round trip decodes to the spec's (keys, values), and a merge of two
    decoded payloads re-sketches to the spec's merge, bit for bit."""
    dim, [(ka, va), (kb, vb)] = grads
    a, b = SK.compress_kv(ka, va, cfg, dim), SK.compress_kv(kb, vb, cfg, dim)
    sa, sb = _spec_compress_kv(ka, va, cfg, dim), _spec_compress_kv(kb, vb, cfg, dim)
    for sg, spec in ((a, sa), (b, sb)):
        assert (sg is None) == (spec is None)
        if sg is not None:
            _assert_bit_identical(SK.decompress_kv(_wire(sg)), _spec_decompress_kv(spec))
    merged, spec = _wire(SK.merge(_wire(a), _wire(b), cfg, dim)), _spec_merge(sa, sb, cfg, dim)
    assert (merged is None) == (spec is None)
    if merged is not None:
        _assert_bit_identical(SK.decompress_kv(merged), _spec_decompress_kv(spec))
        keys, vals = _spec_decompress_kv(spec)
        dense = np.zeros(dim)
        dense[keys] = vals
        assert SK.decompress(merged, dim).tobytes() == dense.tobytes()


# Each fast primitive of the codec against the expression it replaced.

QS = np.linspace(0.0, 1.0, SK.BINS + 1)
HUGE = [1e308, -1e308, 1.7976931348623157e308, -1.7976931348623157e308]


@given(
    st.lists(
        st.one_of(
            st.floats(allow_nan=False, width=64),
            st.sampled_from([0.0, -0.0, 1.0, -1.0, 5e-324, *HUGE, np.inf, -np.inf]),
        ),
        min_size=1,
        max_size=600,
    )
)
@settings(max_examples=400, deadline=None)
def test_sorted_quantiles_bit_identical_to_np_quantile(values):
    """Read off sorted values, the splits are numpy's, bit for bit:
    n = 1 and 2, ties, ±0.0, infinities and overflow near 1e308."""
    s = np.sort(np.array(values, dtype=np.float64))
    with np.errstate(all="ignore"):
        assert SK._sorted_quantiles(s).tobytes() == np.quantile(s, QS).tobytes()


@pytest.mark.parametrize("n", [1, 2, 3, 256, 257, 100_001])
def test_sorted_quantiles_small_and_large_n(n):
    s = np.sort(np.random.default_rng(n).standard_normal(n))
    assert SK._sorted_quantiles(s).tobytes() == np.quantile(s, QS).tobytes()


P = 2147483647
# keys where a row's int64 k·A + B crosses 2^63 and wraps, P's
# multiples, 32-bit edges and the largest int64 key
WRAP_EDGES = [
    (2**63 - 1 - int(b)) // int(a) + d for a, b in zip(SK._ROW_A, SK._ROW_B) for d in (-1, 0, 1, 2)
]
EDGE_KEYS = [0, 1, P - 1, P, P + 1, 2 * P, 2**31, 2**32 - 1, 2**32, 2**33, *WRAP_EDGES, 2**63 - 1]


@given(
    st.lists(st.one_of(st.integers(0, 2**63 - 1), st.sampled_from(EDGE_KEYS)), min_size=1, max_size=200),
    st.one_of(st.integers(1, 300), st.integers(1, 2**31 - 1)),
)
@example(EDGE_KEYS, 7919)
@settings(max_examples=300, deadline=None)
def test_hashed_positions_equal_int64_expression(keys, width):
    """``_hashes(k)[r] % width`` is ``((k·A + B) % P) % width`` in int64,
    wrap and all, for every row and any key the wire format can carry
    (int64 keys below a u64 dim)."""
    keys = np.array(sorted(set(keys)), dtype=np.int64)
    hashes = SK._hashes(keys)
    assert hashes.dtype == np.uint32 and hashes.shape == (SK.SKETCH_ROWS, keys.size)
    for r in range(SK.SKETCH_ROWS):
        with np.errstate(over="ignore"):
            want = ((keys * SK._ROW_A[r] + SK._ROW_B[r]) % P) % width
        np.testing.assert_array_equal((hashes[r] % np.uint32(width)).astype(np.int64), want)


@given(hnp.arrays(np.uint8, st.integers(0, 500), elements=st.integers(0, SK.BINS - 1)))
@settings(max_examples=200, deadline=None)
def test_radix_grouping_equals_group_masks(buckets):
    """One stable uint8 sort gives each group's positions in order,
    as the ``bucket * GROUPS // BINS == g`` masks did."""
    groups = SK._group_indexes(buckets)
    group_of = buckets.astype(np.int64) * SK.GROUPS // SK.BINS
    assert len(groups) == SK.GROUPS
    for g, idx in enumerate(groups):
        np.testing.assert_array_equal(idx, np.flatnonzero(group_of == g))


def _hops(a, b, cfg, dim, min_keys):
    """Both payloads, the payload hop and the object hop, with the
    codec's thread threshold at ``min_keys`` sketched keys."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SK, "_PARALLEL_MIN_KEYS", min_keys)
        pa, pb = SK.to_bytes(a), SK.to_bytes(b)
        return pa, pb, SK.merge_hop(pa, pb, cfg, dim)[0], SK.to_bytes(SK.merge(a, b, cfg, dim))


@given(sparse_grads(), CODECS)
@SETTLE
def test_threaded_payloads_equal_serial(grads, cfg):
    """The two-thread hop writes the bytes a one-thread hop writes."""
    dim, [(ka, va), (kb, vb)] = grads
    a, b = SK.compress_kv(ka, va, cfg, dim), SK.compress_kv(kb, vb, cfg, dim)
    threaded, serial = _hops(a, b, cfg, dim, 0), _hops(a, b, cfg, dim, 1 << 62)
    assert threaded == serial
    pa, pb = serial[:2]
    # merge_hop's payload is the decode, merge and encode of one combine
    assert threaded[2] == SK.to_bytes(SK.merge(SK.from_bytes(pa), SK.from_bytes(pb), cfg, dim))


@given(sparse_grads(), CODECS)
@SETTLE
def test_merge_hop_keeps_the_gradient_it_encodes(grads, cfg):
    """``merge_hop``'s gradient is its payload parsed back: it encodes
    to that payload, and its runs scatter to the same dense values."""
    dim, [(ka, va), (kb, vb)] = grads
    pa = SK.to_bytes(SK.compress_kv(ka, va, cfg, dim))
    pb = SK.to_bytes(SK.compress_kv(kb, vb, cfg, dim))
    payload, sg = SK.merge_hop(pa, pb, cfg, dim)
    assert payload == SK.to_bytes(sg)
    parsed = SK.decompress(SK.from_bytes(payload), dim)
    assert SK.decompress(sg, dim).tobytes() == parsed.tobytes()
    scattered = np.zeros(dim)
    for keys, vals in SK.runs(sg):
        assert not scattered[keys].any()  # the runs' keys are disjoint
        scattered[keys] = vals
    assert scattered.tobytes() == parsed.tobytes()


def test_small_hops_stay_on_the_calling_thread(monkeypatch):
    """Below ``_PARALLEL_MIN_KEYS`` sketched keys, and on the identity
    path at any size, a hop never hands work to the pool."""
    class NoPool:
        def submit(self, *args):
            raise AssertionError("a small hop used the thread pool")

    monkeypatch.setattr(SK, "_pool", (os.getpid(), NoPool()))
    dim = 1 << 20
    grads = [_wide_partition_gradient(s, dim) for s in (1, 2)]
    for cfg in (SKETCH, IDENTITY):
        small = [SK.compress_kv(k[:2000], v[:2000], cfg, dim) for k, v in grads]
        _hops(*small, cfg, dim, SK._PARALLEL_MIN_KEYS)
    _hops(*[SK.compress_kv(k, v, IDENTITY, dim) for k, v in grads], IDENTITY, dim, SK._PARALLEL_MIN_KEYS)


def _hop_in_child(conn, pa, pb, dim):
    conn.send(SK.merge_hop(pa, pb, SKETCH, dim)[0])
    conn.close()


def test_forked_child_makes_its_own_thread_pool(monkeypatch):
    """A worker daemon forks after import: a child that inherits a used
    pool (whose thread did not survive the fork) still merges."""
    monkeypatch.setattr(SK, "_PARALLEL_MIN_KEYS", 0)
    dim, [(ka, va), (kb, vb)] = 5000, [_wide_partition_gradient(s, 5000) for s in (1, 2)]
    pa = SK.to_bytes(SK.compress_kv(ka, va, SKETCH, dim))
    pb = SK.to_bytes(SK.compress_kv(kb, vb, SKETCH, dim))
    want = SK.merge_hop(pa, pb, SKETCH, dim)[0]  # the forking process's pool exists now
    ctx = multiprocessing.get_context("fork")
    recv, send = ctx.Pipe(duplex=False)
    child = ctx.Process(target=_hop_in_child, args=(send, pa, pb, dim))
    child.start()
    try:
        assert recv.poll(60), "the forked child's merge did not finish"
        assert recv.recv() == want
        child.join(10)
        assert child.exitcode == 0
    finally:
        if child.is_alive():
            child.kill()


def test_concurrent_hops_share_the_pool(monkeypatch):
    """Callers on more threads than cores share the one-thread pool;
    each gets its own hop's bytes."""
    dim = 5000
    payloads = [SK.to_bytes(SK.compress_kv(*_wide_partition_gradient(s, dim), SKETCH, dim)) for s in range(4)]
    pairs = [(payloads[i], payloads[(i + 1) % 4]) for i in range(4)] * 4
    want = [SK.merge_hop(pa, pb, SKETCH, dim)[0] for pa, pb in pairs]
    monkeypatch.setattr(SK, "_PARALLEL_MIN_KEYS", 0)
    got = [None] * len(pairs)

    def hop(i):
        got[i] = SK.merge_hop(*pairs[i], SKETCH, dim)[0]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hop, args=(i,)) for i in range(len(pairs))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert got == want


@given(sparse_grads(n=1), st.sampled_from([SKETCH, IDENTITY]))
@settings(max_examples=30, deadline=None)
def test_every_proper_prefix_of_a_payload_raises(grads, cfg):
    dim, [(keys, vals)] = grads
    buf = SK.to_bytes(SK.compress_kv(keys, vals, cfg, dim))
    for n in range(len(buf)):
        with pytest.raises(ValueError):
            SK.from_bytes(buf[:n])


def _sketched():
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(0, 5000, 800))
    return SK.compress_kv(keys, rng.standard_normal(keys.size), SKETCH, 5000)


_NNZ = sum(k.size for k in _sketched().keys)


def _with_header(buf: bytes, **fields) -> bytes:
    """``buf`` with header fields (version, kind, dim, nnz) replaced."""
    head = dict(zip(("version", "kind", "dim", "nnz"), struct.unpack_from("<BBQQ", buf)))
    head.update(fields)
    return struct.pack("<BBQQ", *head.values()) + buf[struct.calcsize("<BBQQ"):]


def _with_first_grid(change) -> bytes:
    """The sketched payload with its first group's grid replaced."""
    sg = _sketched()
    sg.sketches[0] = SK.MinMaxSketch(change(sg.sketches[0].grid), SK.BINS)
    return SK.to_bytes(sg)


def _with_dim_at_largest_key() -> bytes:
    sg = _sketched()
    sg.dim = int(max(k[-1] for k in sg.keys))
    return SK.to_bytes(sg)


def _with_corrupt_key_section() -> bytes:
    buf = SK.to_bytes(_sketched())
    # the first group's key section starts after the header, the
    # splits, n_g, width and the section length
    at = struct.calcsize("<BBQQ") + 8 * (SK.BINS + 1) + 24
    return buf[:at] + bytes(16) + buf[at + 16:]


def _identity(keys: list[int]) -> bytes:
    return SK.to_bytes(SK.SketchedGradient(10, [np.array(keys)], np.ones(len(keys)), None, None))


MALFORMED = {
    "unknown version": (lambda: _with_header(SK.to_bytes(_sketched()), version=2), "version"),
    "unknown kind": (lambda: _with_header(SK.to_bytes(_sketched()), kind=7), "kind"),
    "zero payload with nnz": (lambda: _with_header(SK.to_bytes(None), nnz=1), "zero payload"),
    "trailing bytes": (lambda: SK.to_bytes(_sketched()) + b"\0", "trailing"),
    "section past the end": (lambda: SK.to_bytes(_sketched())[:-1], "truncated"),
    "corrupt zlib section": (_with_corrupt_key_section, "corrupt"),
    "group sizes below nnz": (lambda: _with_header(SK.to_bytes(_sketched()), nnz=_NNZ + 1), "sum to nnz"),
    "group sizes above nnz": (lambda: _with_header(SK.to_bytes(_sketched()), nnz=_NNZ - 1), "exceed nnz"),
    "grid width not derived from n_g": (lambda: _with_first_grid(lambda g: g[:, :-1]), "width"),
    "grid length not rows x width": (lambda: _with_first_grid(lambda g: g[:-1]), "grid of"),
    "key not below dim": (_with_dim_at_largest_key, "below dim"),
    "identity key not below dim": (lambda: _identity([3, 10]), "below dim"),
    "duplicate key": (lambda: _identity([3, 3]), "unique"),
}


@pytest.mark.parametrize("case", list(MALFORMED))
def test_malformed_payload_raises_value_error(case):
    make, match = MALFORMED[case]
    with pytest.raises(ValueError, match=match):
        SK.from_bytes(make())


def test_well_formed_payloads_parse():
    """The malformed cases above start from these payloads."""
    sg = _sketched()
    _assert_bit_identical(SK.decompress_kv(SK.from_bytes(SK.to_bytes(sg))), SK.decompress_kv(sg))
    assert SK.from_bytes(SK.to_bytes(None)) is None
    ok = SK.from_bytes(_identity([3, 9]))
    assert ok.keys[0].tolist() == [3, 9] and ok.exact_values.tolist() == [1.0, 1.0]


def _wide_partition_gradient(seed: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """~44k sorted keys in 2^20 dims, like one partition's gradient in
    the wide sketch benchmark; the cut before dim - 1 forces escapes."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(0, dim, size=45_000))
    keys = np.concatenate([keys[keys < dim - 4096], [dim - 1]])
    return keys, rng.standard_normal(keys.size)


def test_wire_bytes_match_golden_digests():
    """Pins a 6 -> 2 -> 1 re-sketching merge tree over contiguous halves
    {0,1,2} and {3,4,5} (the wide benchmark's treeReduce groups are
    {0,2,4} and {1,3,5}; the digests pin this fold): the shipped bytes
    of a leaf and of the root, the byte total of the tree's 11 payloads
    (6 leaves, 4 partial folds, the root), and the decoded root. The
    decoded digest predates the current wire layout: a layout change
    may move the bytes, never the decoded gradient."""
    dim = 1 << 20
    leaves = [SK.compress_kv(*_wide_partition_gradient(s, dim), CFG, dim) for s in range(6)]
    payloads = [SK.to_bytes(sg) for sg in leaves]

    def fold(parts):
        acc = parts[0]
        for sg in parts[1:]:
            acc = SK.merge(acc, sg, CFG, dim)
            payloads.append(SK.to_bytes(acc))
        return acc

    root = SK.merge(fold(leaves[:3]), fold(leaves[3:]), CFG, dim)
    payloads.append(SK.to_bytes(root))
    decoded = SK.decompress(SK.from_bytes(payloads[-1]), dim)
    assert hashlib.sha256(decoded.tobytes()).hexdigest() == (
        "78adfe0b76666c13aa52d475e8f6d9a797506e6ac0eb733f53e561ff675b64c6"
    )
    assert hashlib.sha256(payloads[0]).hexdigest() == (
        "f272344ec4b6823205f6a8037d8f0c8f69acd0b47dd97f3d64c1c587a2100c3e"
    )
    assert hashlib.sha256(payloads[-1]).hexdigest() == (
        "f4ec73f2d8e6035658f7b93f593818f76d135a2eb374cbbb1b992c5cb1b70403"
    )
    assert len(payloads) == 11 and sum(map(len, payloads)) == 1_396_291
