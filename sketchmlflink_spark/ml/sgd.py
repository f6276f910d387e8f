"""Distributed (sketch-compressed) gradient descent — the reference's
core dataflow (SketchGradientDescent.scala:183-314) re-expressed in
Spark's execution model (SURVEY.md §3.2 translation):

  cache training DataFrame once; per epoch:
    broadcast (w, b)
    → ONE pass per partition over cached numpy blocks computes the
      partition-local gradient sum AND compresses it (fuses
      T2+T3+T4+partial-A1 of SURVEY.md §2 — the reference runs these as
      separate Flink maps)
    → partials (one small record per partition: sketch bytes + counters)
      merge in an RDD ``treeReduce(depth=2)`` with re-sketch per
      combine ("reduce" mode, SGD:256-281): executors merge every level
      but the last, which the driver merges (6 partitions: 6 → 2 on
      executors, 2 → 1 on the driver); or, in "reduce_group" mode
      (SGD:238-253), the driver decompresses and sums every partial in
      one pass
    → driver applies 1/count scaling, eta_t = eta0/sqrt(t) schedule,
      regularization step, separate intercept update (SGD:283-313)

Scale notes: the per-epoch network cost is (#partitions × sketch bytes)
— the compression applies exactly where the reference applies it, before
anything crosses a partition boundary, and every treeReduce hop ships a
re-sketched partial, so the combOp stays associative-with-resketch at
any depth. Loss is fused into the gradient pass (the reference pays a
full extra pass per epoch when convergence checking — SGD:125; we get it
free).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchmlflink_spark.config import SketchConfig, SolverConfig
from sketchmlflink_spark.ml import sketch as SK

@dataclass
class TrainResult:
    weights: np.ndarray
    intercept: float
    losses: list[float] = field(default_factory=list)
    epochs_run: int = 0
    n_train: int = 0
    epoch_times_ms: list[float] = field(default_factory=list)
    shuffle_bytes: int = 0  # total sketch payload bytes shipped


def _blockify(batches):
    """(indices, values, label) Arrow batches → ONE pickled COO block per
    partition: (row_ids, idx, val, y) flat numpy arrays.

    Iterating mapInPandas over a cached *DataFrame* re-pays
    InternalRow→Arrow→pandas conversion every epoch; caching the
    deserialized numpy block instead makes each epoch a pure
    numpy-on-cached-block pass (the same reason MLlib caches
    deserialized vectors, and the Spark analog of Flink keeping
    iteration state in memory — SURVEY.md P5). A block never holds a
    dim-wide row, so a partition's memory is O(nnz), matching the
    reference's SparseVector rows (SketchGradientDescent.scala:198-217;
    SparseVector.fromCOO, Test.scala:171). Duplicate indices within a
    row are legal (their contributions sum — a multiset feature map)."""
    import pickle

    rid_parts, idx_parts, val_parts, y_parts = [], [], [], []
    row_base = 0
    for pdf in batches:
        if len(pdf) == 0:
            continue
        lens = np.fromiter((len(a) for a in pdf["indices"]), dtype=np.int64, count=len(pdf))
        rid_parts.append(np.repeat(np.arange(row_base, row_base + len(pdf)), lens))
        idx_parts.append(np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["indices"]]))
        val_parts.append(
            np.concatenate([np.asarray(a, dtype=np.float64) for a in pdf["values"]])
        )
        y_parts.append(pdf["label"].to_numpy(dtype=np.float64))
        row_base += len(pdf)
    if y_parts:
        blk = (
            np.concatenate(rid_parts),
            np.concatenate(idx_parts),
            np.concatenate(val_parts),
            np.concatenate(y_parts),
        )
        yield pd.DataFrame({"blob": [pickle.dumps(blk, protocol=5)]})


def _loss_grad(name: str):
    """Pluggable loss over the linear prediction p = x·w + b (M1, the
    reference's LossFunction plugin point — squared loss is its shipped
    instance, SketchMultipleLinearRegression.scala squared-loss path).
    Returns f(p, y) -> (g, loss_sum) where g[i] = dloss_i/dp_i — every
    downstream step (grad = g @ X, intercept = g.sum(), sketch compress,
    averaging, takeStep) is loss-agnostic."""
    if name == "squared":

        def f(p: np.ndarray, y: np.ndarray):
            r = p - y
            return r, 0.5 * float(r @ r)

    elif name == "logistic":

        def f(p: np.ndarray, y: np.ndarray):  # y ∈ {-1, +1}
            z = y * p
            # stable log(1+exp(-z)); g = -y·sigma(-z) without overflow
            loss = float(np.logaddexp(0.0, -z).sum())
            g = -y / (1.0 + np.exp(z))
            return g, loss

    else:
        raise ValueError(f"unknown loss: {name!r} (use 'squared' or 'logistic')")
    return f


def _partial_record_fn():
    """The builder of one partition's contribution to the treeReduce:
    the serialized sketch plus the scalars the combiner sums. Returned
    nested so cloudpickle ships it by value inside the partial fns; a
    reference to a module-level function would make every task's fresh
    Python worker import this module (pandas, pyspark.sql)."""

    def partial_record(sg, isum: float, n: int, loss: float) -> dict:
        payload = SK.to_bytes(sg)
        return {
            "payload": payload,
            "intercept_sum": isum,
            "n": n,
            # "reduce"-mode averaging denominator: partitions whose
            # gradient was all-zero are excluded (SGD:261-270)
            "live_n": n if sg is not None else 0,
            "loss": loss,
            "bytes": len(payload),
        }

    return partial_record


def _make_partial_fn(bc, dim: int, sketch_cfg: SketchConfig, loss_name: str = "squared"):
    """Per-partition gradient pass over cached COO blocks. Nested so
    cloudpickle ships it by value; touches only numpy + sketch codec.
    The gradient sum is accumulated SPARSELY (unique feature keys seen
    in this partition only) and compressed via the codec's kv path — no
    dim-sized buffer is ever allocated on an executor, so training holds
    at dim 10^5-10^7 (the reference's actual workload: wide LibSVM
    swept over --maxDim, runtest.sh:34-36)."""

    loss_fn = _loss_grad(loss_name)
    partial_record = _partial_record_fn()

    def fn(blocks):
        w, b = bc.value
        idx_parts, contrib_parts = [], []
        isum = 0.0
        loss = 0.0
        n = 0
        for row_ids, idx, val, y in blocks:
            # per-row prediction: scatter-sum of val * w[idx] by row
            pred = np.bincount(row_ids, weights=val * w[idx], minlength=len(y))[: len(y)]
            g, l = loss_fn(pred + b, y)  # g = dloss/dprediction per example
            idx_parts.append(idx)
            contrib_parts.append(val * g[row_ids])
            isum += float(g.sum())
            loss += l
            n += len(y)
        sg = None
        if n > 0:
            idx_cat = np.concatenate(idx_parts)
            uk, inv = np.unique(idx_cat, return_inverse=True)
            gv = np.bincount(inv, weights=np.concatenate(contrib_parts), minlength=uk.shape[0])
            sg = SK.compress_kv(uk, gv, sketch_cfg, dim)  # None if all-zero (P8)
        yield partial_record(sg, isum, n, loss)

    return fn


def _make_combine_fn(dim: int, sketch_cfg: SketchConfig):
    """treeReduce combiner: decompress both sides, dense-add, RE-SKETCH
    the partial sum (SGD:274) — so every hop of the distributed reduce
    tree ships a sketch, which is the system's raison d'être (P1).
    ``bytes`` accumulates every combine-hop payload (leaf payloads +
    each re-sketched partial) — an upper bound on cross-executor
    traffic, since treeReduce also counts partition-local merges."""

    def combine(p: dict, q: dict) -> dict:
        merged = SK.merge(SK.from_bytes(p["payload"]), SK.from_bytes(q["payload"]), sketch_cfg, dim)
        payload = SK.to_bytes(merged)
        return {
            "payload": payload,
            "intercept_sum": p["intercept_sum"] + q["intercept_sum"],
            "n": p["n"] + q["n"],
            "live_n": p["live_n"] + q["live_n"],
            "loss": p["loss"] + q["loss"],
            "bytes": p["bytes"] + q["bytes"] + len(payload),
        }

    return combine


def _sum_partials_group(partials, dim: int):
    """"reduce_group" strategy (SGD:238-253): a single reducer iterates
    every compressed gradient, decompresses, dense-accumulates — no
    re-sketch; zero gradients stay in the denominator (SGD:242-248).
    Runs on the driver, which *is* the one-node reducer the reference's
    comment warns about (SGD:237) — kept for A/B parity, not for scale.
    """
    dense = np.zeros(dim, dtype=np.float64)
    isum = 0.0
    loss = 0.0
    count = 0
    shipped = 0
    for p in partials:
        sg = SK.from_bytes(p["payload"])
        if sg is not None:
            dense += SK.decompress(sg, dim)
        isum += p["intercept_sum"]
        loss += p["loss"]
        count += p["n"]
        shipped += p["bytes"]
    return dense, isum, count, loss, shipped


def _apply_regularization(grad: np.ndarray, w: np.ndarray, cfg: SolverConfig) -> np.ndarray:
    if cfg.regularization == "l2":
        return grad + cfg.reg_lambda * w
    return grad


def _take_step(w: np.ndarray, grad: np.ndarray, eta: float, cfg: SolverConfig) -> np.ndarray:
    """takeStep analog (SGD:325-333): none → w − η·g; L2 folded into the
    gradient; L1 via proximal soft-thresholding."""
    w_new = w - eta * _apply_regularization(grad, w, cfg)
    if cfg.regularization == "l1":
        shrink = eta * cfg.reg_lambda
        w_new = np.sign(w_new) * np.maximum(np.abs(w_new) - shrink, 0.0)
    return w_new


def _learning_rate(cfg: SolverConfig, t: int) -> float:
    """FlinkML LearningRateMethod parity (the reference exposes the full
    pluggable trait, FlinkMultipleLinearRegression.scala:116-119;
    evaluated per superstep, FlinkGradientDescent.scala:242-245).
    Closed forms match flink-ml 1.7 IterativeSolver.LearningRateMethod.
    """
    eta0, lam = cfg.step_size, cfg.reg_lambda
    if cfg.lr_schedule == "constant":
        return eta0
    if cfg.lr_schedule == "bottou":
        # 1 / (λ·(optimalInit + t − 1)); optimalInit defaults to 1/(η₀λ),
        # which makes the first step exactly η₀
        opt = cfg.bottou_optimal_init if cfg.bottou_optimal_init is not None else 1.0 / (eta0 * lam)
        return 1.0 / (lam * (opt + t - 1))
    if cfg.lr_schedule == "inv_scaling":
        return eta0 / math.pow(t, cfg.lr_decay)
    if cfg.lr_schedule == "xu":
        return eta0 * math.pow(1.0 + lam * eta0 * t, -cfg.lr_decay)
    return eta0 / math.sqrt(t)  # FlinkML Default (FMLR:46)


class PreparedBlocks:
    """Blockified training input (one cached numpy block per partition)
    plus the stats the epoch loop needs — factored out of ``train`` so
    multi-arm queries (m07's five schedule arms, m08's exact-vs-sketch
    A/B) blockify the corpus ONCE and share the cache instead of paying
    a full scan + Arrow crossing + pickle per arm (optimization guide
    §1.2: don't compute things twice). Content is deterministic for a
    given input frame, so sharing is result-identical to re-preparing.
    """

    def __init__(self, blocks, n_total: int, inferred_dim: int):
        self.blocks = blocks
        self.n_total = n_total
        self.inferred_dim = inferred_dim

    def unpersist(self) -> None:
        self.blocks.unpersist()


def _coo_columns(df: DataFrame):
    """The (indices, values) Column pair of either training schema: the
    COO pair itself, or — for a dense ``features array<double>`` — the
    array as the values and its element positions as the indices (one
    Catalyst projection; the reference's SparseVector.fromCOO rows,
    Test.scala:171)."""
    if "features" in df.columns:
        return F.transform("features", lambda _, i: i), F.col("features")
    return F.col("indices"), F.col("values")


def prepare_blocks(df: DataFrame) -> PreparedBlocks:
    """Blockify ``df`` (dense ``features`` or COO schema, projected to
    COO by ``_coo_columns``) into a persisted RDD of numpy blocks; one
    job materializes the cache AND yields row count + dimension (S3
    dimension inference, Test.scala:157-160, fused)."""
    from pyspark import StorageLevel

    import pickle

    indices, values = _coo_columns(df)
    # one numpy block per partition, cached deserialized (P5)
    blocks = (
        df.select(indices.alias("indices"), values.alias("values"), "label")
        .mapInPandas(_blockify, "blob binary")
        .rdd.map(lambda r: pickle.loads(r["blob"]))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # (row count, local max index + 1) per partition
    stats = blocks.map(
        lambda blk: (len(blk[3]), int(blk[1].max()) + 1 if blk[1].size else 0)
    ).collect()
    n_total = sum(s[0] for s in stats)
    inferred_dim = max(s[1] for s in stats) if stats else 0
    return PreparedBlocks(blocks, n_total, inferred_dim)


def train(
    df: DataFrame,
    solver: SolverConfig,
    sketch_cfg: SketchConfig | None = None,
    dim: int | None = None,
    init_weights: np.ndarray | None = None,
    init_intercept: float = 0.0,
    epoch_offset: int = 0,
    prepared: PreparedBlocks | None = None,
) -> TrainResult:
    """Run the SGD loop. ``df`` needs ``label double`` plus EITHER the
    COO pair ``indices array<int>`` + ``values array<double>`` (the
    LibSVM parse output, FIXTURES.md §1) OR a dense ``features
    array<double>`` column, which trains as COO rows over its element
    positions. Returns weights/intercept + per-epoch metrics.

    ``init_weights``/``init_intercept`` warm-start the model and
    ``epoch_offset`` shifts the eta0/sqrt(t) schedule — used by the
    streaming foreachBatch incremental trainer, where each micro-batch
    continues the previous batch's model.

    ``prepared``: a ``prepare_blocks(df)`` result to reuse across arms
    (the caller owns its lifetime; ``train`` only unpersists blocks it
    prepared itself).
    """
    sketch_cfg = sketch_cfg or SketchConfig()
    spark = df.sparkSession
    from sketchmlflink_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    sc = spark.sparkContext

    owns_blocks = prepared is None
    if prepared is None:
        prepared = prepare_blocks(df)
    blocks, n_total = prepared.blocks, prepared.n_total
    if n_total == 0:
        if owns_blocks:
            blocks.unpersist()
        raise ValueError("empty training set")
    if dim is None:
        dim = prepared.inferred_dim

    if init_weights is not None:
        w = np.asarray(init_weights, dtype=np.float64).copy()
    else:
        w = np.zeros(dim, dtype=np.float64)  # I4: zero init (SGD:55)
    b = float(init_intercept)
    result = TrainResult(weights=w, intercept=b, n_train=n_total)
    prev_loss: float | None = None

    for t in range(1 + epoch_offset, solver.iterations + 1 + epoch_offset):
        t0 = time.monotonic()
        bc = sc.broadcast((w, b))
        try:
            partial_rdd = blocks.mapPartitions(_make_partial_fn(bc, dim, sketch_cfg, solver.loss))
            if solver.aggregation == "reduce":
                # distributed tree reduction; every combine hop ships a
                # re-sketched partial (SGD:256-281 "Reduce" mode) — the
                # shape that holds at 1000 executors
                merged = partial_rdd.treeReduce(_make_combine_fn(dim, sketch_cfg), depth=2)
                grad_sum = SK.decompress(SK.from_bytes(merged["payload"]), dim)
                isum, loss = merged["intercept_sum"], merged["loss"]
                count = merged["live_n"]
                result.shuffle_bytes += merged["bytes"]
            else:  # "reduce_group"
                partials = partial_rdd.collect()
                grad_sum, isum, count, loss, shipped = _sum_partials_group(partials, dim)
                result.shuffle_bytes += shipped
        finally:
            bc.destroy()
        if count == 0:
            count = n_total
        eta = _learning_rate(solver, t)
        # M3: average; M2: takeStep; M5: separate intercept update (SGD:286-310)
        w = _take_step(w, grad_sum / count, eta, solver)
        b = b - eta * (isum / count)
        result.epoch_times_ms.append((time.monotonic() - t0) * 1000.0)
        result.losses.append(loss / n_total)
        result.epochs_run = t
        # T5/I2: relative-loss-change convergence (SGD:129-137). The fused
        # loss is measured at the epoch's *starting* weights — one epoch
        # of lag vs the reference's post-update loss pass, same limit.
        if solver.convergence_threshold is not None and prev_loss is not None and prev_loss > 0:
            if abs(prev_loss - result.losses[-1]) / prev_loss < solver.convergence_threshold:
                break
        prev_loss = result.losses[-1]

    if owns_blocks:
        blocks.unpersist()
    result.weights = w
    result.intercept = b
    return result


def predict_udf_factory(spark, weights: np.ndarray, intercept: float):
    """prediction = x·w + b (M6, SMLR:166-171) over the (indices, values)
    COO columns as an Arrow-batched pandas UDF with broadcast weights
    (WEIGHTVECTOR_BROADCAST analog, SMLR:83), vectorized per batch via
    one concat + scatter-sum — no densified rows (the SparseVector dot
    of SMLR:166-171)."""
    from sketchmlflink_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    bc = spark.sparkContext.broadcast((np.asarray(weights, dtype=np.float64), float(intercept)))

    def _predict(indices: pd.Series, values: pd.Series) -> pd.Series:
        w, b = bc.value
        n = len(indices)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        lens = np.fromiter((len(a) for a in indices), dtype=np.int64, count=n)
        row_ids = np.repeat(np.arange(n), lens)
        idx = np.concatenate([np.asarray(a, dtype=np.int64) for a in indices])
        val = np.concatenate([np.asarray(a, dtype=np.float64) for a in values])
        pred = np.bincount(row_ids, weights=val * w[idx], minlength=n)[:n] + b
        return pd.Series(pred)

    return F.pandas_udf(_predict, "double")
