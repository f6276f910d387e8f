"""Seeded LibSVM input generators for the SGD workloads.

Both generators write plain LibSVM text (``label idx:val ...``, 1-based
indices) and return the training rows as numpy arrays, so the benchmark
can compute the first-epoch partition gradients itself. The same seed
always gives byte-identical files; ``file_digest`` shows it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

WIDE_DIM = 1 << 20
WIDE_NNZ = 200
SIGNAL_VOCAB = 256


def _write(path: str, labels: np.ndarray, rows) -> None:
    with open(path, "w") as f:
        for y, (idx, val) in zip(labels, rows):
            pairs = " ".join(f"{i + 1}:{v:.4f}" for i, v in zip(idx.tolist(), val.tolist()))
            f.write(f"{y:.6f} {pairs}\n")


def _split_rows(idx: np.ndarray, val: np.ndarray, lens: np.ndarray):
    bounds = np.cumsum(lens)[:-1]
    return zip(np.split(idx, bounds), np.split(val, bounds))


def wide_sparse(rng: np.random.Generator, n_rows: int, dim: int = WIDE_DIM, nnz: int = WIDE_NNZ):
    """Rows of ``nnz`` features out of ``dim``: one tenth drawn from a
    small "signal" vocabulary that recurs across rows (the labels depend
    on these), the rest drawn from the long tail, each seen about once
    (as hashed text features are). Values are ±U(0.5, 1.5): zero-mean,
    so plain gradient descent on them is well conditioned. Duplicate
    draws within a row are dropped."""
    n_sig = nnz // 10
    sig = rng.integers(0, SIGNAL_VOCAB, (n_rows, n_sig))
    tail = rng.integers(SIGNAL_VOCAB, dim, (n_rows, nnz - n_sig))
    raw = np.sort(np.concatenate([sig, tail], axis=1), axis=1)
    keep = np.ones_like(raw, dtype=bool)
    keep[:, 1:] = raw[:, 1:] != raw[:, :-1]
    lens = keep.sum(axis=1)
    idx = raw[keep]
    val = np.round(rng.uniform(0.5, 1.5, idx.shape[0]) * rng.choice((-1.0, 1.0), idx.shape[0]), 4)
    return idx, val, lens


def dense(rng: np.random.Generator, n_rows: int, dim: int):
    """Rows holding every one of ``dim`` standard-normal features."""
    val = np.round(rng.standard_normal(n_rows * dim), 4)
    idx = np.tile(np.arange(dim, dtype=np.int64), n_rows)
    lens = np.full(n_rows, dim)
    return idx, val, lens


def make_libsvm(train_path: str, holdout_path: str, seed: int, kind: str,
                n_train: int, n_holdout: int, dim: int) -> dict:
    """Write ``n_train`` + ``n_holdout`` labelled rows of ``kind`` ("wide"
    or "dense"), split into a training and a holdout file. Labels are one
    fixed linear model of the features plus small noise. Returns the
    training arrays written (COO form), so callers can recompute
    gradients without Spark."""
    rng = np.random.default_rng(seed)
    w_true = rng.standard_normal(dim)
    if kind == "wide":
        w_true[SIGNAL_VOCAB:] = 0.0
    n_rows = n_train + n_holdout
    idx, val, lens = (wide_sparse if kind == "wide" else dense)(rng, n_rows, dim)
    row_ids = np.repeat(np.arange(n_rows), lens)
    y = np.bincount(row_ids, weights=val * w_true[idx], minlength=n_rows)
    y = np.round(y + 0.05 * rng.standard_normal(n_rows), 6)
    rows = list(_split_rows(idx, val, lens))
    for path, sl in ((train_path, slice(0, n_train)), (holdout_path, slice(n_train, n_rows))):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write(path, y[sl], rows[sl])
    n_coo = int(lens[:n_train].sum())
    return {"row_ids": row_ids[:n_coo], "idx": idx[:n_coo], "val": val[:n_coo], "y": y[:n_train]}


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]
