"""SketchML-style gradient compression codec (pure numpy, no Spark).

Reproduces the behavioral surface the reference consumes from the
external ``org.dma.sketchml:sketchml`` jar (SURVEY.md §2.6; imports
SketchGradientDescent.scala:12-17, MLConf construction SGD:340-348):

  * quantile quantization: bucket each nonzero gradient value into one of
    ``BINS`` (255) quantile bins → uint8 bucket ids;
  * grouped MinMaxSketch: bucket ids stored in ``GROUPS`` (2) hash
    grids of ``SKETCH_ROWS`` (3) rows × ``COL_RATIO`` (0.3) · n_g cols —
    min-update on insert, max-over-rows on query, so collisions bias
    the estimate only within a group's value range. Each group keeps
    its own sorted key list beside its grid, so group membership is
    implicit and costs no bytes on the wire;
  * delta key coding: each group's sorted keys stored as 8-bit deltas
    (SGD:346 keyBits=8) with a 4-byte escape. The byte format is fixed
    (one byte per delta; a delta ≥ 0xFF is 0xFF + little-endian uint32)
    and both directions are vectorized numpy; the golden-digest and spec
    tests in tests/test_sketch_codec_properties.py pin it byte for byte;
  * ZeroGradient elision: all-zero gradients never reach the codec
    (SGD:203, SGD:223 — P8 in SURVEY.md §4);
  * ``compression_type="None"``: identity path — exact values flow
    through the same wire format (SGD:343, README.md:18).

Wire format (``to_bytes``/``from_bytes``), little-endian, no pickle:

  header   u8 version (1), u8 kind (0 zero / 1 identity / 2 sketch),
           u64 dim, u64 nnz
  identity zlib'd key section, then nnz float64 values
  sketch   BINS + 1 float64 quantile splits, then per group:
           u64 n_g, u64 width, zlib'd key section,
           zlib'd SKETCH_ROWS × width uint8 grid section

A section is a u64 byte length and the bytes. ``from_bytes`` raises
``ValueError`` on any payload that breaks this layout.

Observable contract (SURVEY.md §2.6 table): ``decompress(compress_kv(k, v))``
≈ the gradient, with error bounded by the containing group's value
range; ``merge`` = decompress + sparse add + re-sketch, mirroring the
in-combiner re-sketch of SGD:274; ``merge_payloads`` is that hop from
two wire payloads to one, the merge tree's combiner.
"""

from __future__ import annotations

import os
import struct
import zlib
from concurrent.futures import ThreadPoolExecutor
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


def _hashes(keys: np.ndarray) -> np.ndarray:
    """Each row's width-free hash ``(k·A + B) mod P`` of every key, as a
    (SKETCH_ROWS, n) uint32 array; a key's grid column in row ``r`` is
    ``_hashes(keys)[r] % width``. ``k·A + B`` wraps in int64, and
    ``x − (x // P)·P`` equals numpy's ``x % P`` for every int64 ``x``
    (both floor), but the floor division by a constant is vectorized."""
    keys = keys.astype(np.int64, copy=False)
    out = np.empty((SKETCH_ROWS, keys.size), dtype=np.uint32)
    for r in range(SKETCH_ROWS):
        x = keys * _ROW_A[r]
        x += _ROW_B[r]
        q = x // _HASH_P
        q *= _HASH_P
        x -= q
        out[r] = x
    return out


@dataclass
class MinMaxSketch:
    """CountMin-style grid keeping the MIN bucket id per cell; queries
    take the MAX over rows — collisions can only pull an estimate down,
    max-over-rows takes the least-damaged row."""

    grid: np.ndarray  # (rows, width) uint8; sentinel = BINS (empty)
    sentinel: int

    @classmethod
    def build(cls, keys: np.ndarray, buckets: np.ndarray, width: int) -> "MinMaxSketch":
        return cls._build(_hashes(keys), buckets, width)

    @classmethod
    def _build(cls, hashes: np.ndarray, buckets: np.ndarray, width: int) -> "MinMaxSketch":
        grid = np.full((SKETCH_ROWS, width), BINS, dtype=np.uint8)
        buckets = buckets.astype(np.uint8, copy=False)
        for r in range(SKETCH_ROWS):
            np.minimum.at(grid[r], hashes[r] % np.uint32(width), buckets)
        return cls(grid=grid, sentinel=BINS)

    def query(self, keys: np.ndarray) -> np.ndarray:
        """Each key's bucket id (0 where every row's cell is empty)."""
        est = self._shifted_ids(_hashes(keys))
        return np.maximum(est, 1) - 1

    def _shifted_ids(self, hashes: np.ndarray) -> np.ndarray:
        """The max over rows of each key's cell plus one, in uint8: the
        empty sentinel BINS (255) wraps to 0, below every id + 1, so 0
        means no row holds the key and ``i + 1`` means bucket ``i``."""
        rows, width = self.grid.shape
        shifted = self.grid + np.uint8(1)
        est = np.take(shifted[0], hashes[0] % np.uint32(width))
        for r in range(1, rows):
            np.maximum(est, np.take(shifted[r], hashes[r] % np.uint32(width)), out=est)
        return est


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


def _width(n_g: int) -> int:
    """Grid columns of a group holding ``n_g`` keys."""
    return max(1, int(np.ceil(COL_RATIO * max(n_g, 1))))


@dataclass
class SketchedGradient:
    """A gradient in transit (sparse/sketched message, dense accumulate —
    P9 in SURVEY.md §4). ``keys`` holds sorted int64 key arrays: one per
    group on the sketch path, where ``keys[g]`` is queried against
    ``sketches[g]``; a single one on the identity path, whose values are
    ``exact_values``. The wire size is ``len(to_bytes(sg))``."""

    dim: int
    keys: list[np.ndarray]
    # identity path ("None" compression): exact values; else None
    exact_values: np.ndarray | None
    # sketch path: BINS + 1 quantile splits and one MinMaxSketch per group
    splits: np.ndarray | None
    sketches: list[MinMaxSketch] | None


_QS = np.linspace(0.0, 1.0, BINS + 1)
# bucket id -> group: similar-magnitude values share a grid, so a
# collision costs at most the group's value range
_GROUP_OF = (np.arange(BINS) * GROUPS // BINS).astype(np.uint8)


def _sorted_quantiles(s: np.ndarray) -> np.ndarray:
    """``np.quantile(s, _QS)`` for ascending, NaN-free ``s``, read off by
    index. numpy 1.26's default ("linear") method partitions a copy of
    ``s`` and interpolates between the order statistics at
    ``floor((n - 1)·q)`` and the next; on sorted input those are already
    in place. The indexes, weights and lerp below are numpy's, operation
    for operation, so the result is bit-identical."""
    n = s.shape[0]
    virtual = (n - 1) * _QS
    prev = np.floor(virtual)
    nxt = prev + 1
    top = virtual >= n - 1  # numpy reads the last value there
    prev[top] = -1
    nxt[top] = -1
    prev, nxt = prev.astype(np.intp), nxt.astype(np.intp)
    gamma = virtual - prev
    a, b = s[prev], s[nxt]
    diff = b - a
    out = a + diff * gamma
    np.subtract(b, diff * (1 - gamma), out=out, where=gamma >= 0.5)
    return out


def _group_indexes(buckets: np.ndarray) -> list[np.ndarray]:
    """Each group's positions in ``buckets`` (uint8 bucket ids), in
    ascending order. A stable sort of uint8 is numpy's radix sort, so
    one sort splits the groups and keeps each in key order."""
    group_of = _GROUP_OF[buckets]
    return np.split(np.argsort(group_of, kind="stable"), np.cumsum(np.bincount(group_of, minlength=GROUPS))[:-1])


def compress_kv(keys: np.ndarray, vals: np.ndarray, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Sparse (keys, values) gradient → sketched gradient, never touching
    a dim-sized buffer — the SparseDoubleGradient branch of the reference
    (SketchGradientDescent.scala:198-217). ``keys`` must be sorted and
    unique (np.unique output qualifies); near-zero entries are elided
    like the reference's nnz test (SGD:356-362). Returns None when no
    entry is left (ZeroGradient elision, SGD:203/223)."""
    return _compress(np.asarray(keys, dtype=np.int64), np.asarray(vals, dtype=np.float64), None, cfg, dim)


def _compress(keys: np.ndarray, vals: np.ndarray, hashes: np.ndarray | None, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """``compress_kv``, given the keys' ``_hashes`` when the caller has
    them (None: hashed here)."""
    live = np.abs(vals) > EPS
    if not live.all():
        keys, vals = keys[live], vals[live]
        if hashes is not None:
            hashes = hashes[:, live]
    if keys.size == 0:
        return None
    if cfg.compression_type == "None" or keys.size < cfg.auto_fallback_nnz:
        return SketchedGradient(dim, [keys.copy()], vals.copy(), None, None)

    # one sort serves both the quantiles (read off the sorted values) and
    # the bucket search, which runs far faster over ascending values
    # than over values in key order
    order = np.argsort(vals)
    sorted_vals = vals[order]
    splits = _sorted_quantiles(sorted_vals)
    # bucket i covers [splits[i], splits[i+1])
    buckets = np.empty(keys.size, dtype=np.uint8)
    buckets[order] = np.clip(np.searchsorted(splits, sorted_vals, side="right") - 1, 0, BINS - 1)
    group_keys, sketches = [], []
    for idx in _group_indexes(buckets):
        kg = keys[idx]
        hg = _hashes(kg) if hashes is None else np.take(hashes, idx, axis=1)
        group_keys.append(kg)
        sketches.append(MinMaxSketch._build(hg, buckets[idx], _width(kg.size)))
    return SketchedGradient(dim, group_keys, None, splits, sketches)


def _runs(sg: SketchedGradient) -> list[tuple[np.ndarray, np.ndarray, np.ndarray | None]]:
    """The gradient as (keys, values, hashes) runs, each sorted by key
    and their keys disjoint: one per group on the sketch path, where a
    value is the midpoint of the bucket its group's grid reports and
    ``hashes`` are the keys' ``_hashes``; one run with hashes None on
    the identity path."""
    if sg.exact_values is not None:
        return [(sg.keys[0], sg.exact_values, None)]
    mid = 0.5 * (sg.splits[:-1] + sg.splits[1:])  # bucket i's midpoint
    by_shifted_id = np.concatenate([mid[:1], mid])  # see _shifted_ids
    runs = []
    for keys, sketch in zip(sg.keys, sg.sketches):
        hashes = _hashes(keys)
        runs.append((keys, np.take(by_shifted_id, sketch._shifted_ids(hashes)), hashes))
    return runs


def _order(runs: list) -> tuple[np.ndarray, np.ndarray]:
    """The runs' keys concatenated and put in key order, with the
    order. The runs are sorted, so the stable sort is a merge of runs; a
    key shared by two runs keeps their order, earlier run first."""
    keys = np.concatenate([r[0] for r in runs])
    order = np.argsort(keys, kind="stable")
    return keys[order], order


def decompress_kv(sg: SketchedGradient) -> tuple[np.ndarray, np.ndarray]:
    """Sketched gradient → sparse (keys, values) without a dim-sized
    buffer. Keys come back sorted-unique; the arrays are the caller's."""
    runs = _runs(sg)
    keys, order = _order(runs)
    return keys, np.concatenate([r[1] for r in runs])[order]


def decompress(sg: SketchedGradient | None, dim: int | None = None) -> np.ndarray:
    """Sketched gradient → dense float64 (``toAuto``/``toDense`` analog,
    SGD:244/276), scattered run by run."""
    if sg is None:
        if dim is None:
            raise ValueError("cannot densify ZeroGradient without dim")
        return np.zeros(dim, dtype=np.float64)
    out = np.zeros(sg.dim, dtype=np.float64)
    for keys, vals, _ in _runs(sg):
        out[keys] = vals
    return out


def _sum_runs(runs: list, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Re-sketch the sum of the runs of two gradients: the union of the
    sorted runs + a unique-sum, so a combine costs O(nnz_a + nnz_b),
    not O(dim). A key present in both sums as va + vb. The keys'
    hashes ride along when every run has them, so no key is hashed
    twice in one hop."""
    keys, order = _order(runs)
    starts = np.flatnonzero(np.concatenate([[True], keys[1:] != keys[:-1]]))
    vals = np.add.reduceat(np.concatenate([r[1] for r in runs])[order], starts)
    hashes = None
    if all(r[2] is not None for r in runs):
        hashes = np.take(np.concatenate([r[2] for r in runs], axis=1), order[starts], axis=1)
    return _compress(keys[starts], vals, hashes, cfg, dim)


def merge(a: SketchedGradient | None, b: SketchedGradient | None, cfg: SketchConfig, dim: int) -> SketchedGradient | None:
    """Combine two in-transit gradients: decompress → add → re-compress,
    so every hop of the reduce tree ships a sketch — the
    in-combiner re-sketch of SGD:274 (P1 in SURVEY.md §4).

    The add runs in sparse kv form (``_sum_runs``), so a combine costs
    O(nnz_a + nnz_b), not O(dim) — the property that keeps the reduce
    tree cheap on very wide sparse gradients (SGD:198-217's
    SparseVector branch is the reference analog)."""
    if a is None:
        return b
    if b is None:
        return a
    return _sum_runs(_runs(a) + _runs(b), cfg, dim)


def _decode(buf: bytes) -> tuple[SketchedGradient | None, list | None]:
    sg = from_bytes(buf)
    return sg, None if sg is None else _runs(sg)


def _claimed_sketched_keys(buf: bytes) -> int:
    """The nnz a sketch payload's header claims, 0 for any other payload
    (``from_bytes`` checks the claim)."""
    if len(buf) < _HEADER.size:
        return 0
    _, kind, _, nnz = _HEADER.unpack_from(buf)
    return nnz if kind == _SKETCH else 0


def merge_payloads(pa: bytes, pb: bytes, cfg: SketchConfig, dim: int) -> bytes:
    """One hop of the merge tree on wire payloads:
    ``to_bytes(merge(from_bytes(pa), from_bytes(pb), cfg, dim))``, with
    the two operands parsed and decompressed on two threads when they
    are large (``_parallel``)."""
    sketched_keys = _claimed_sketched_keys(pa) + _claimed_sketched_keys(pb)
    (a, runs_a), (b, runs_b) = _parallel(_decode, [pa, pb], sketched_keys)
    if a is None or b is None:
        return to_bytes(b if a is None else a)
    return to_bytes(_sum_runs(runs_a + runs_b, cfg, dim))


_pool: tuple[int, ThreadPoolExecutor] | None = None
# Below this many sketched keys a hop stays on one thread. Measured on
# 4 cores: two 4000-key sketch operands lost 0.08 ms to the hand-off,
# two 16000-key ones gained 0.3 ms, two 44000-key ones 1.8 ms; identity
# operands never gained (their decode is mostly a copy), and threaded
# 64-key identity hops made a sgd_dense_exact epoch 1 ms slower.
_PARALLEL_MIN_KEYS = 32768


def _parallel(fn, items: list, sketched_keys: int) -> list:
    """``[fn(x) for x in items]``: with at least ``_PARALLEL_MIN_KEYS``
    sketched keys in the work, the first runs on the calling thread and
    the rest on a one-thread pool (numpy and zlib release the GIL, so
    two halves of a hop overlap). The pool is made at first use in each
    process: the worker daemon forks after import, and a pool made
    before a fork has no thread in the child. Two threads racing here
    can each make a pool; the spare one only idles."""
    if sketched_keys < _PARALLEL_MIN_KEYS:
        return [fn(x) for x in items]
    global _pool
    if _pool is None or _pool[0] != os.getpid():
        _pool = (os.getpid(), ThreadPoolExecutor(max_workers=1, thread_name_prefix="sketch"))
    rest = [_pool[1].submit(fn, x) for x in items[1:]]
    first = fn(items[0])
    return [first] + [f.result() for f in rest]


_VERSION = 1
_ZERO, _IDENTITY, _SKETCH = 0, 1, 2
_HEADER = struct.Struct("<BBQQ")  # version, kind, dim, nnz
_GROUP = struct.Struct("<QQ")  # n_g, width
_LEN = struct.Struct("<Q")


def _section(raw: bytes) -> bytes:
    blob = zlib.compress(raw, 1)
    return _LEN.pack(len(blob)) + blob


def to_bytes(sg: SketchedGradient | None) -> bytes:
    """The gradient's wire payload (layout in the module docstring)."""
    if sg is None:
        return _HEADER.pack(_VERSION, _ZERO, 0, 0)
    nnz = sum(k.size for k in sg.keys)
    if sg.exact_values is not None:
        return b"".join([
            _HEADER.pack(_VERSION, _IDENTITY, sg.dim, nnz),
            _section(encode_keys(sg.keys[0])),
            sg.exact_values.astype("<f8", copy=False).tobytes(),
        ])
    head = [_HEADER.pack(_VERSION, _SKETCH, sg.dim, nnz), sg.splits.astype("<f8", copy=False).tobytes()]
    return b"".join(head + _parallel(_group_part, list(zip(sg.keys, sg.sketches)), nnz))


def _group_part(group: tuple[np.ndarray, MinMaxSketch]) -> bytes:
    """One group's part of a sketch payload: n_g, width, the key section
    and the grid section."""
    keys, sketch = group
    return b"".join([
        _GROUP.pack(keys.size, sketch.grid.shape[1]),
        _section(encode_keys(keys)),
        _section(sketch.grid.tobytes()),
    ])


class _Reader:
    """Cursor over a payload; every read past its end is a ValueError."""

    def __init__(self, buf: bytes):
        self.buf = memoryview(buf)
        self.pos = 0

    def take(self, n: int) -> memoryview:
        if n > len(self.buf) - self.pos:
            raise ValueError(f"from_bytes: truncated payload ({n} bytes wanted at offset {self.pos} of {len(self.buf)})")
        self.pos += n
        return self.buf[self.pos - n : self.pos]

    def unpack(self, fmt: struct.Struct) -> tuple:
        return fmt.unpack(self.take(fmt.size))

    def section(self, limit: int) -> bytes:
        """One zlib'd section, inflated to at most ``limit`` bytes."""
        (n,) = self.unpack(_LEN)
        inflater = zlib.decompressobj()
        try:
            raw = inflater.decompress(self.take(n), limit)
        except zlib.error as e:
            raise ValueError(f"from_bytes: corrupt section at offset {self.pos - n}: {e}") from None
        if not inflater.eof or inflater.unused_data or inflater.unconsumed_tail:
            raise ValueError(
                f"from_bytes: section at offset {self.pos - n} is not one zlib stream of at most {limit} bytes"
            )
        return raw

    def keys(self, count: int, dim: int) -> np.ndarray:
        # a delta takes at most 5 bytes
        keys = decode_keys(self.section(5 * count))
        if keys.size != count:
            raise ValueError(f"from_bytes: key section holds {keys.size} keys, expected {count}")
        if keys.size and (keys[-1] >= dim or (keys.size > 1 and np.diff(keys).min() == 0)):
            raise ValueError(f"from_bytes: keys must be unique and below dim {dim}")
        return keys


def from_bytes(buf: bytes) -> SketchedGradient | None:
    """Parse a ``to_bytes`` payload. Raises ValueError on an unknown
    version or kind, a truncated or corrupt section, trailing bytes,
    group sizes that do not sum to nnz, a grid whose shape is not the
    one ``compress_kv`` derives from its group size, or a key ≥ dim."""
    r = _Reader(buf)
    version, kind, dim, nnz = r.unpack(_HEADER)
    if version != _VERSION:
        raise ValueError(f"from_bytes: unknown wire version {version} (this codec reads {_VERSION})")
    if kind == _ZERO:
        if dim or nnz:
            raise ValueError("from_bytes: a zero payload carries no dim or nnz")
        sg = None
    elif kind == _IDENTITY:
        keys = r.keys(nnz, dim)
        vals = np.frombuffer(r.take(8 * nnz), dtype="<f8").astype(np.float64)
        sg = SketchedGradient(dim, [keys], vals, None, None)
    elif kind == _SKETCH:
        splits = np.frombuffer(r.take(8 * (BINS + 1)), dtype="<f8").astype(np.float64)
        group_keys, sketches = [], []
        for _ in range(GROUPS):
            n_g, width = r.unpack(_GROUP)
            if n_g > nnz - sum(k.size for k in group_keys):
                raise ValueError(f"from_bytes: group sizes exceed nnz {nnz}")
            if width != _width(n_g):
                raise ValueError(f"from_bytes: grid width {width} for a group of {n_g} keys (expected {_width(n_g)})")
            group_keys.append(r.keys(n_g, dim))
            grid = r.section(SKETCH_ROWS * width)
            if len(grid) != SKETCH_ROWS * width:
                raise ValueError(f"from_bytes: grid of {len(grid)} bytes, expected {SKETCH_ROWS} x {width}")
            sketches.append(MinMaxSketch(np.frombuffer(grid, dtype=np.uint8).reshape(SKETCH_ROWS, width), BINS))
        if sum(k.size for k in group_keys) != nnz:
            raise ValueError(f"from_bytes: group sizes do not sum to nnz {nnz}")
        sg = SketchedGradient(dim, group_keys, None, splits, sketches)
    else:
        raise ValueError(f"from_bytes: unknown payload kind {kind}")
    if r.pos != len(r.buf):
        raise ValueError(f"from_bytes: {len(r.buf) - r.pos} trailing bytes after the payload")
    return sg
