"""SketchML-style gradient compression codec (pure numpy, no Spark).

Reproduces the behavioral surface the reference consumes from the
external ``org.dma.sketchml:sketchml`` jar (SURVEY.md §2.6; imports
SketchGradientDescent.scala:12-17, MLConf construction SGD:340-348):

  * quantile quantization: bucket each nonzero gradient value into one of
    ``BINS`` (255) quantile bins → uint8 bucket ids;
  * grouped MinMaxSketch: bucket ids stored in ``GROUPS`` (2) hash
    grids of ``SKETCH_ROWS`` (3) rows × ``COL_RATIO`` (0.3) · nnz cols —
    min-update on insert, max-over-rows on query, so collisions bias
    the estimate only within a group's value range;
  * delta key coding: sorted nonzero indices stored as 8-bit deltas
    (SGD:346 keyBits=8) with a 4-byte escape. The byte format is fixed
    (one byte per delta; a delta ≥ 0xFF is 0xFF + little-endian uint32)
    and both directions are vectorized numpy; the golden-digest and spec
    tests in tests/test_sketch_codec_properties.py pin it byte for byte;
  * ZeroGradient elision: all-zero gradients never reach the codec
    (SGD:203, SGD:223 — P8 in SURVEY.md §4);
  * ``compression_type="None"``: identity path — exact values flow
    through the same envelope (SGD:343, README.md:18).

Observable contract (SURVEY.md §2.6 table): ``decompress(compress(g))``
≈ g with error bounded by the containing group's value range;
``merge`` = decompress + sparse add + re-sketch, mirroring the
in-combiner re-sketch of SGD:274.
"""

from __future__ import annotations

import pickle
import zlib
from dataclasses import dataclass

import numpy as np

from sketchmlflink_spark.config import SketchConfig

EPS = 1e-10  # Maths.EPS analog (SGD:359 nnz test)

# The reference's fixed sketch parameters, library constants in its
# MLConf call (SketchGradientDescent.scala:343-346). BINS is its 256
# quantile bins (Quantizer.DEFAULT_BIN_NUM) less one: the empty-cell
# sentinel takes the id BINS, so bucket ids and sentinel fit uint8
# (the reference's 8-bit quantization flag).
BINS = 255
GROUPS = 2  # SKETCH_GROUP_NO
SKETCH_ROWS = 3  # MinMaxSketch hash rows
COL_RATIO = 0.3  # MinMaxSketch columns per nonzero

_HASH_P = 2147483647
# fixed per-row hash coefficients (deterministic across processes)
_ROW_A = np.array([1103515245, 214013, 69069, 1664525, 22695477, 1013904223], dtype=np.int64)
_ROW_B = np.array([12345, 2531011, 362437, 1013904223, 1, 11], dtype=np.int64)


def _positions(keys: np.ndarray, row: int, width: int) -> np.ndarray:
    return ((keys.astype(np.int64) * _ROW_A[row] + _ROW_B[row]) % _HASH_P) % width


@dataclass
class MinMaxSketch:
    """CountMin-style grid keeping the MIN bucket id per cell; queries
    take the MAX over rows — collisions can only pull an estimate down,
    max-over-rows takes the least-damaged row."""

    grid: np.ndarray  # (rows, width) uint8; sentinel = BINS (empty)
    sentinel: int

    @classmethod
    def build(cls, keys: np.ndarray, buckets: np.ndarray, width: int) -> "MinMaxSketch":
        grid = np.full((SKETCH_ROWS, width), BINS, dtype=np.uint8)
        for r in range(SKETCH_ROWS):
            np.minimum.at(grid[r], _positions(keys, r, width), buckets.astype(np.uint8))
        return cls(grid=grid, sentinel=BINS)

    def query(self, keys: np.ndarray) -> np.ndarray:
        rows, width = self.grid.shape
        est = np.full(keys.shape, -1, dtype=np.int16)
        for r in range(rows):
            v = self.grid[r, _positions(keys, r, width)].astype(np.int16)
            v = np.where(v == self.sentinel, -1, v)
            est = np.maximum(est, v)
        return np.clip(est, 0, self.sentinel - 1)


_ESC = 0xFF  # escape marker: the next 4 bytes hold the delta as <u4
_ESC_OFFSETS = np.arange(1, 5)


def encode_keys(keys: np.ndarray) -> bytes:
    """Delta-encode sorted int keys as one byte each; deltas ≥ escape
    are stored as escape marker + uint32 (SGD:346 keyBits=8)."""
    if keys.size == 0:
        return b""
    deltas = np.diff(keys, prepend=0).astype(np.int64)
    if deltas.min() < 0:
        raise ValueError("encode_keys: keys must be sorted ascending and non-negative")
    if deltas.max() > 0xFFFFFFFF:
        raise ValueError("encode_keys: a key gap >= 2^32 does not fit the 4-byte escape")
    esc = deltas >= _ESC
    if not esc.any():
        return deltas.astype(np.uint8).tobytes()
    # each delta takes 1 byte, an escaped one 5: start = index + 4 * (escapes before it)
    starts = np.arange(deltas.size) + 4 * (np.cumsum(esc) - esc)
    out = np.empty(deltas.size + 4 * int(esc.sum()), dtype=np.uint8)
    out[starts] = np.minimum(deltas, _ESC)
    out[starts[esc, None] + _ESC_OFFSETS] = deltas[esc].astype("<u4").view(np.uint8).reshape(-1, 4)
    return out.tobytes()


def decode_keys(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    cand = np.flatnonzero(b == _ESC)
    if cand.size == 0:
        return np.cumsum(b, dtype=np.int64)
    # 0xFF can also sit inside an escape's payload: walk the candidates
    # in order, skipping those covered by the previous marker's 4 bytes
    markers, nxt = [], 0
    for p in cand.tolist():
        if p >= nxt:
            markers.append(p)
            nxt = p + 5
    if nxt > b.size:
        raise ValueError("decode_keys: truncated escape at the end of the key buffer")
    m = np.asarray(markers, dtype=np.int64)
    payload = m[:, None] + _ESC_OFFSETS
    keep = np.ones(b.size, dtype=bool)
    keep[payload.ravel()] = False
    deltas = b[keep].astype(np.int64)
    deltas[m - 4 * np.arange(m.size)] = b[payload].view("<u4").ravel()
    return np.cumsum(deltas)


@dataclass
class SketchedGradient:
    """A gradient in transit (sparse/sketched message, dense accumulate —
    P9 in SURVEY.md §4)."""

    dim: int
    key_buf: bytes  # delta-encoded nonzero indices
    nnz: int
    # identity path ("None" compression): exact values; else None
    exact_values: np.ndarray | None
    # sketch path: quantile splits, per-key group ids (one int8 each),
    # one MinMaxSketch per group; the wire size is len(to_bytes(sg))
    splits: np.ndarray | None
    group_ids: np.ndarray | None
    sketches: list[MinMaxSketch] | None


def compress(values: np.ndarray, cfg: SketchConfig, dim: int | None = None) -> SketchedGradient | None:
    """Dense float64 vector → sketched gradient. Returns None for the
    all-zero vector (ZeroGradient elision, SGD:203/223)."""
    values = np.asarray(values, dtype=np.float64)
    dim = dim if dim is not None else values.shape[0]
    keys = np.nonzero(np.abs(values) > EPS)[0]
    return compress_kv(keys, values[keys], cfg, dim)


def compress_kv(keys: np.ndarray, vals: np.ndarray, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Sparse (keys, values) gradient → sketched gradient, never touching
    a dim-sized buffer — the SparseDoubleGradient branch of the reference
    (SketchGradientDescent.scala:198-217). ``keys`` must be sorted and
    unique (np.unique output qualifies); near-zero entries are elided
    like the dense path's nnz test (SGD:356-362)."""
    keys = np.asarray(keys, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    live = np.abs(vals) > EPS
    if not live.all():
        keys, vals = keys[live], vals[live]
    if keys.size == 0:
        return None
    key_buf = encode_keys(keys)
    if cfg.compression_type == "None" or keys.size < cfg.auto_fallback_nnz:
        return SketchedGradient(dim, key_buf, keys.size, vals.copy(), None, None, None)

    qs = np.linspace(0.0, 1.0, BINS + 1)
    # one sort serves both the quantiles (a function of the order
    # statistics only) and the bucket search, which runs far faster
    # over ascending values than over values in key order
    order = np.argsort(vals)
    sorted_vals = vals[order]
    splits = np.quantile(sorted_vals, qs)
    # bucket i covers [splits[i], splits[i+1])
    buckets = np.empty(vals.shape[0], dtype=np.int16)
    buckets[order] = np.clip(np.searchsorted(splits, sorted_vals, side="right") - 1, 0, BINS - 1)
    # group by bucket range: similar-magnitude values share a grid so a
    # collision costs at most the group's value range
    group_ids = (buckets.astype(np.int64) * GROUPS // BINS).astype(np.int8)
    sketches = []
    for g in range(GROUPS):
        mask = group_ids == g
        n_g = int(mask.sum())
        width = max(1, int(np.ceil(COL_RATIO * max(n_g, 1))))
        sketches.append(MinMaxSketch.build(keys[mask], buckets[mask], width))
    return SketchedGradient(dim, key_buf, keys.size, None, splits, group_ids, sketches)


def decompress_kv(sg: SketchedGradient) -> tuple[np.ndarray, np.ndarray]:
    """Sketched gradient → sparse (keys, values) without a dim-sized
    buffer. Keys come back sorted-unique (the codec stores them that
    way)."""
    keys = decode_keys(sg.key_buf)
    if sg.exact_values is not None:
        return keys, sg.exact_values.astype(np.float64, copy=True)
    vals = np.zeros(keys.shape[0], dtype=np.float64)
    bins = sg.splits.shape[0] - 1
    for g, sketch in enumerate(sg.sketches):
        mask = sg.group_ids == g
        if not mask.any():
            continue
        b = sketch.query(keys[mask]).astype(np.int64)
        vals[mask] = 0.5 * (sg.splits[b] + sg.splits[np.minimum(b + 1, bins)])
    return keys, vals


def decompress(sg: SketchedGradient | None, dim: int | None = None) -> np.ndarray:
    """Sketched gradient → dense float64 (``toAuto``/``toDense`` analog,
    SGD:244/276)."""
    if sg is None:
        if dim is None:
            raise ValueError("cannot densify ZeroGradient without dim")
        return np.zeros(dim, dtype=np.float64)
    out = np.zeros(sg.dim, dtype=np.float64)
    keys, vals = decompress_kv(sg)
    out[keys] = vals
    return out


def merge(a: SketchedGradient | None, b: SketchedGradient | None, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Combine two in-transit gradients: decompress → add → re-compress,
    so every hop of the reduce tree ships a sketch — the
    in-combiner re-sketch of SGD:274 (P1 in SURVEY.md §4).

    The add runs in sparse kv form (concat + unique-sum), so a combine
    costs O(nnz_a + nnz_b), not O(dim) — the property that keeps the
    reduce tree cheap on very wide sparse gradients (SGD:198-217's
    SparseVector branch is the reference analog)."""
    if a is None:
        return b
    if b is None:
        return a
    ka, va = decompress_kv(a)
    kb, vb = decompress_kv(b)
    # both key lists are sorted, so a stable sort of their concatenation
    # is a linear merge; a key present in both sums as va + vb
    keys = np.concatenate([ka, kb])
    order = np.argsort(keys, kind="stable")
    keys = keys[order]
    starts = np.flatnonzero(np.concatenate([[True], keys[1:] != keys[:-1]]))
    uk = keys[starts]
    vals = np.add.reduceat(np.concatenate([va, vb])[order], starts)
    return compress_kv(uk, vals, cfg, dim)


def to_bytes(sg: SketchedGradient | None) -> bytes:
    return zlib.compress(pickle.dumps(sg), 1)


def from_bytes(buf: bytes) -> SketchedGradient | None:
    return pickle.loads(zlib.decompress(buf))
