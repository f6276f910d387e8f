"""Distributed (sketch-compressed) gradient descent — the reference's
core dataflow (SketchGradientDescent.scala:183-314) re-expressed in
Spark's execution model (SURVEY.md §3.2 translation):

  cache training DataFrame once, each partition's numpy block moved to
  its merge-tree group (``prepare_blocks``); per epoch, ONE Spark stage:
    broadcast (w, b)
    → each task owns one level-1 group of PySpark's depth-2
      ``treeReduce`` schedule (``_tree_groups``; 6 partitions: {0,2,4}
      and {1,3,5}). For each partition of its group, in partition
      order, ONE pass over the cached numpy block computes the
      partition-local gradient sum AND compresses it (fuses
      T2+T3+T4+partial-A1 of SURVEY.md §2 — the reference runs these as
      separate Flink maps); in "reduce" mode (SGD:256-281) the task
      left-folds these leaf records with a re-sketch per combine
    → the driver left-folds the group records, as ``treeReduce`` does;
      or, in "reduce_group" mode (SGD:238-253), the tasks return the
      leaf records and the driver decompresses and sums every one in
      partition order
    → driver applies 1/count scaling, eta_t = eta0/sqrt(t) schedule,
      regularization step, separate intercept update (SGD:283-313)

The merge tree is the one ``treeReduce(depth=2)`` builds, so every
re-sketch sees the same operands in the same order and the model is
bit-identical to it; only the shuffle stage between the leaves and the
level-1 merges is gone (the regroup happens once, in
``prepare_blocks``).

Scale notes: the compression applies exactly where the reference
applies it, before a partition's gradient enters the merge tree, and every
hop of the merge tree ships a re-sketched partial, so the combOp stays
associative-with-resketch at any depth; ``bytes`` counts every leaf
and hop payload of that tree. An epoch runs L = ``_tree_groups(P)``
(about sqrt(P)) tasks for P partitions, and only their group records
reach the driver. Each task computes its group's P/L leaf gradients one
after another, beside the P/L - 1 merges a level-1 reducer already ran
in series; so the epoch gives up leaf parallelism for the shuffle stage
and the P task launches it saves. On 4 local cores that saving was
0.4-0.6 s per epoch while every Python task also re-parsed Spark's zip
archives (about 0.28 s a task); with ``worker_daemon`` (the
``get_spark`` daemon) a trivial 6-task Python stage takes 0.17-0.18 s
and a 2-task one 0.14 s (0.62-0.66 s and 0.36-0.40 s before), so the
saving is now about 0.2 s per epoch. It is a win while the P/L - 1 extra
serial leaf gradients cost less than that. It was measured a win, with
the larger overhead, on 4 cores at P = 6 with 250 wide rows
(dim 2^20, Sketch) per partition (the wide benchmark), 4000 wide rows
and 10000 dense 64-feature rows (leaf 59 ms, merge 0.4 ms); with the
smaller overhead the 4000-row margin was not re-measured. The wide
costs, re-measured in numpy alone on 4 cores for a first epoch (a leaf
is one partition's gradient pass, compress and encode; a group task
runs 2 merges, the driver 1): 250 rows, leaf 4.8 ms, a task's merges
30 ms, the driver's 33 ms; 4000 rows, leaf 68 ms, merges 264 ms and
160 ms. Heavier leaves were not measured; there the epoch can slow by
up to P/L - 1 leaf times. Loss is fused into the gradient pass (the
reference pays a full extra pass per epoch when convergence checking —
SGD:125; we get it free).
"""

from __future__ import annotations

import functools
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
    """The builder of one partition's leaf record in the merge tree:
    the sketch's wire payload (``SK.to_bytes``, a fixed binary layout)
    plus the scalars the combiner sums. ``bytes`` starts at the leaf's
    own payload. Returned
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
    """Merge-tree combiner: decompress both sides, add in sparse kv form,
    RE-SKETCH the partial sum (SGD:274) — so every hop of the distributed reduce
    tree ships a sketch, which is the system's raison d'être (P1).
    ``bytes`` accumulates every hop's payload (leaf payloads + each
    re-sketched partial) of the reference's tree, whether or not the
    hop crosses a process: a group's merges run inside one task, yet
    count as the reference's pairwise reduce ships them."""

    def combine(p: dict, q: dict) -> dict:
        payload = SK.merge_payloads(p["payload"], q["payload"], sketch_cfg, dim)
        return {
            "payload": payload,
            "intercept_sum": p["intercept_sum"] + q["intercept_sum"],
            "n": p["n"] + q["n"],
            "live_n": p["live_n"] + q["live_n"],
            "loss": p["loss"] + q["loss"],
            "bytes": p["bytes"] + q["bytes"] + len(payload),
        }

    return combine


def _run_epoch(groups, leaf, combine=None):
    """One epoch as ONE Spark stage over ``PreparedBlocks.groups``: each
    task computes the ``leaf`` record of every partition of its tree
    group, in partition order. With ``combine`` ("reduce") the task
    left-folds them (the level-1 reducer of ``treeReduce``) and the
    driver left-folds the group records into the root record, which is
    ``leaves.treeReduce(combine, depth=2)`` hop for hop. Without it
    ("reduce_group") the leaf records come back in partition order.
    ``task`` is nested so cloudpickle ships it by value."""

    def task(records):
        leaves = ((i, next(leaf(blks))) for i, blks in records)
        if combine is None:
            yield from leaves
        else:
            yield functools.reduce(combine, (rec for _, rec in leaves))

    out = groups.mapPartitions(task).collect()
    if combine is None:
        return [rec for _, rec in sorted(out, key=lambda t: t[0])]
    return functools.reduce(combine, out)


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


def _tree_groups(n_parts: int) -> int:
    """The level-1 group count of the merge tree of PySpark's
    ``RDD.treeReduce(f, depth=2)`` over ``n_parts`` partitions
    (``treeAggregate``, PySpark 4.1.2): partition ``i`` is merged into
    group ``i % groups`` in partition order, and the driver left-folds
    the groups in order. Each partition is its own group when PySpark
    has no level-1 round (``n_parts <= 4``) and when its round has a
    single group (``n_parts == 5``): both trees are one left fold over
    every partition, and singleton groups keep each leaf gradient in
    its own task. ``n_parts / scale <= scale``, so there is never a
    second level-1 round."""
    scale = max(int(math.ceil(pow(n_parts, 1.0 / 2))), 2)
    groups = int(n_parts / scale)
    if n_parts > scale + n_parts / scale and groups > 1:
        return groups
    return n_parts


class PreparedBlocks:
    """Blockified training input plus the stats the epoch loop needs —
    factored out of ``train`` so multi-arm queries (m07's five schedule
    arms, m08's exact-vs-sketch A/B) blockify the corpus ONCE and share
    the cache instead of paying a full scan + Arrow crossing + pickle
    per arm (optimization guide §1.2: don't compute things twice).
    Content is deterministic for a given input frame, so sharing is
    result-identical to re-preparing.

    ``blocks``: the P-partition RDD of numpy blocks (at most one per
    partition; the leaves of the merge tree). It is lineage only and not
    persisted, so a job over it re-reads and re-blockifies the whole
    input: read its partition count, run no compute on it.
    ``groups``: the persisted RDD an epoch runs on — partition ``g``
    holds ``(i, blocks of partition i)`` for every ``i`` of tree group
    ``g`` (``_tree_groups``), in ascending ``i``. While it is referenced,
    the regroup's shuffle output keeps a second copy of every block on
    local disk beside the MEMORY_AND_DISK cache.
    """

    def __init__(self, blocks, groups, n_total: int, inferred_dim: int):
        self.blocks = blocks
        self.groups = groups
        self.n_total = n_total
        self.inferred_dim = inferred_dim

    def unpersist(self) -> None:
        self.groups.unpersist()


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
    COO by ``_coo_columns``) into numpy blocks, move each partition's
    block to its merge-tree group (``_tree_groups``; one shuffle, here
    instead of in every epoch) and persist the grouped RDD; one job
    materializes the cache AND yields row count + dimension (S3
    dimension inference, Test.scala:157-160, fused)."""
    from pyspark import StorageLevel

    import pickle

    indices, values = _coo_columns(df)
    # one numpy block per non-empty partition (P5)
    blocks = (
        df.select(indices.alias("indices"), values.alias("values"), "label")
        .mapInPandas(_blockify, "blob binary")
        .rdd.map(lambda r: pickle.loads(r["blob"]))
    )
    n_parts = blocks.getNumPartitions()
    n_groups = _tree_groups(n_parts)
    # an empty partition keeps its record: its leaf still takes its
    # place in the fold
    groups = blocks.mapPartitionsWithIndex(lambda i, it: [(i, list(it))])
    if n_groups < n_parts:
        # partitionBy sends key i to partition i % n_groups
        groups = groups.partitionBy(n_groups, lambda i: i).mapPartitions(
            lambda recs: sorted(recs, key=lambda rec: rec[0]), preservesPartitioning=True
        )
    groups = groups.persist(StorageLevel.MEMORY_AND_DISK)  # cached deserialized (P5)
    # (row count, local max index + 1) per partition
    stats = groups.map(
        lambda rec: (
            sum(len(blk[3]) for blk in rec[1]),
            max((int(blk[1].max()) + 1 for blk in rec[1] if blk[1].size), default=0),
        )
    ).collect()
    n_total = sum(s[0] for s in stats)
    inferred_dim = max((s[1] for s in stats), default=0)
    return PreparedBlocks(blocks, groups, n_total, inferred_dim)


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
    sc = spark.sparkContext

    owns_blocks = prepared is None
    if prepared is None:
        prepared = prepare_blocks(df)
    n_total = prepared.n_total
    if dim is None:
        dim = prepared.inferred_dim
    if n_total == 0 or dim < prepared.inferred_dim:
        if owns_blocks:
            prepared.unpersist()
        raise ValueError(
            "empty training set" if n_total == 0 else
            f"dim={dim} is below the data's dimension {prepared.inferred_dim} (largest index + 1)"
        )

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
            leaf = _make_partial_fn(bc, dim, sketch_cfg, solver.loss)
            if solver.aggregation == "reduce":
                # every combine hop ships a re-sketched partial
                # (SGD:256-281 "Reduce" mode)
                merged = _run_epoch(prepared.groups, leaf, _make_combine_fn(dim, sketch_cfg))
                grad_sum = SK.decompress(SK.from_bytes(merged["payload"]), dim)
                isum, loss = merged["intercept_sum"], merged["loss"]
                count = merged["live_n"]
                result.shuffle_bytes += merged["bytes"]
            else:  # "reduce_group"
                partials = _run_epoch(prepared.groups, leaf)
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
        prepared.unpersist()
    result.weights = w
    result.intercept = b
    return result


def predict_udf_factory(spark, weights: np.ndarray, intercept: float):
    """prediction = x·w + b (M6, SMLR:166-171) over the (indices, values)
    COO columns as an Arrow-batched pandas UDF with broadcast weights
    (WEIGHTVECTOR_BROADCAST analog, SMLR:83), vectorized per batch via
    one concat + scatter-sum — no densified rows (the SparseVector dot
    of SMLR:166-171)."""
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
