"""Numpy recipes shared by the operators' mapInPandas partition kernels,
with the argument for why each is exact written once.

Bit-exact dot fold (``fold_dot`` / ``fold_sqnorm``). The Catalyst
``dot()`` expression (``aggregate(zip_with(...))``) and DuckDB's
``list_dot_product``, which the s03/s08/s13/s14/d19 oracles replay,
both accumulate a dot product over dimensions in ascending index order:
one rounded multiply and one rounded add per step, starting from 0.0.
The folds below run that identical IEEE op sequence for every
(row, plane) pair at once, vectorized across rows, so each result is
bit-for-bit the expression's; a sign, a bucket or a cosine can never
differ. A BLAS matmul would reassociate the sum and is not a substitute.
Pinned by tests/test_kernel_parity.py.

Per-column top-N (``top_mask``). A block-local top-N per query followed
by a small global merge (the REPOSE pattern, PAPERS.md) returns the
same rows as ranking the whole stream, provided the local cut ranks
under the same total order as the global window: batches partition the
corpus, so a row in the global top-N ranks below N in its own batch.
"""

from __future__ import annotations

import numpy as np


def fold_dot(V: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(n, d) rows × (m, d') planes → (n, m) dots over the first
    min(d, d') dims, folded in ascending dimension order from 0.0."""
    acc = np.zeros((V.shape[0], P.shape[0]))
    for d in range(min(V.shape[1], P.shape[1])):
        acc = acc + V[:, d : d + 1] * P[:, d]
    return acc


def fold_sqnorm(V: np.ndarray) -> np.ndarray:
    """(n, d) rows → (n,) self-dots, the same fold as ``fold_dot``."""
    acc = np.zeros(V.shape[0])
    for d in range(V.shape[1]):
        acc = acc + V[:, d] * V[:, d]
    return acc


def top_mask(score: np.ndarray, ids: np.ndarray, valid: np.ndarray, n: int) -> np.ndarray:
    """(rows, cols) bool mask of the rows that rank below ``n`` in each
    column under (score DESC, id ASC), ranking only ``valid`` cells.

    ``ids`` is the (rows,) row id, shared by every column. ``~valid`` is
    the leading sort key, so no sentinel score is needed and int64
    scores stay int64."""
    keys = (np.broadcast_to(ids[:, None], score.shape), -score, ~valid)
    order = np.lexsort(keys, axis=0)
    rank = np.empty_like(order)
    np.put_along_axis(rank, order, np.arange(score.shape[0])[:, None], axis=0)
    return valid & (rank < n)
