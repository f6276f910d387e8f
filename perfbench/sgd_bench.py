"""The two SGD workloads.

``sgd_wide_sketch`` is the paper's regime: wide sparse LibSVM rows
(dim 2^20, about 200 nonzeros each) trained with the sketch codec, so
every partition gradient is large enough to be sketched rather than sent
exact. ``sgd_dense_exact`` is the uncompressed reference arm: dense rows
of 64 features trained with ``compression="None"``, so the codec stays on
its identity path and an epoch costs job scheduling, broadcast and
treeReduce.

Both go through the package's public path: ``read_libsvm`` →
(``to_dense_features``) → ``prepare_blocks`` → ``MultipleLinearRegression
.fit`` → holdout evaluation.
"""

from __future__ import annotations

import os
import pickle
import time

import numpy as np

import gen
from measure import Result, median, tail

PARTITIONS = 6  # more than the cores, so treeReduce merges on executors
SETUP_REPS = 3

WORKLOADS = {
    "sgd_wide_sketch": dict(kind="wide", n_train=1500, n_holdout=500, dim=gen.WIDE_DIM,
                            compression="Sketch", step=2.0, epochs=3),
    "sgd_dense_exact": dict(kind="dense", n_train=2000, n_holdout=500, dim=64,
                            compression="None", step=0.5, epochs=5),
}

# A fitted model must beat predicting zero on the holdout rows:
# holdout mean |error| <= ratio x holdout mean |label|. The sketched
# wide model measures about 0.93-0.97 (the tail features it fits are
# seen once), the exact dense model about 0.15.
HOLDOUT_MAX_RATIO = {"sgd_wide_sketch": 1.0, "sgd_dense_exact": 0.4}

# The sketch path must be what is measured: every first-epoch partition
# gradient of the wide workload has at least this many times
# SketchConfig.auto_fallback_nnz nonzeros.
MIN_NNZ_OVER_FALLBACK = 8


def _prepare(spark, cfg, train_path: str, dim: int, tracer, layers: dict):
    from sketchmlflink_spark.ml import sgd as SGD
    from sketchmlflink_spark.sources.libsvm import read_libsvm, to_dense_features

    t0 = time.perf_counter()
    with tracer.span("sources.read_libsvm"):
        data = read_libsvm(spark, train_path, cache=True)
    t1 = time.perf_counter()
    df = data.df if cfg["kind"] == "wide" else to_dense_features(data)
    df = df.repartition(PARTITIONS)
    with tracer.span("sgd.prepare_blocks"):
        prepared = SGD.prepare_blocks(df)
    t2 = time.perf_counter()
    data.df.unpersist()
    layers.setdefault("sources.read_ms", []).append((t1 - t0) * 1e3)
    layers.setdefault("sgd.prepare_ms", []).append((t2 - t1) * 1e3)
    return df, prepared


def partition_gradients(arrays: dict, parts: int):
    """First-epoch partition gradients (w = 0, b = 0, squared loss) as
    sorted (keys, values) pairs, computed from the generated rows."""
    rid, idx, val, y = arrays["row_ids"], arrays["idx"], arrays["val"], arrays["y"]
    part = (np.arange(len(y)) * parts // len(y))[rid]
    contrib = val * (-y)[rid]
    out = []
    for p in range(parts):
        m = part == p
        keys, inv = np.unique(idx[m], return_inverse=True)
        out.append((keys, np.bincount(inv, weights=contrib[m], minlength=keys.size)))
    return out


def sketch_layer(grads, compression: str, dim: int, tracer, reps: int = 3) -> tuple[dict, list[str]]:
    """Time the public ml.sketch functions on the given partition
    gradients the way one epoch uses them: compress each, serialize and
    deserialize each payload, merge pairwise with re-sketch, decompress
    the root. Returns the layer metrics and any codec-regime violation."""
    from sketchmlflink_spark.config import SketchConfig
    from sketchmlflink_spark.ml import sketch as SK

    cfg = SketchConfig().with_(compression_type=compression)
    times = {"compress": [], "serde": [], "merge": [], "decompress": []}
    for _ in range(reps):
        t0 = time.perf_counter()
        with tracer.span("sketch.compress_kv"):
            sgs = [SK.compress_kv(k, v, cfg, dim) for k, v in grads]
        t1 = time.perf_counter()
        with tracer.span("sketch.serde"):
            bufs = [SK.to_bytes(s) for s in sgs]
            sgs = [SK.from_bytes(b) for b in bufs]
        t2 = time.perf_counter()
        with tracer.span("sketch.merge"):
            level = sgs
            while len(level) > 1:
                level = [SK.merge(level[i], level[i + 1], cfg, dim) if i + 1 < len(level) else level[i]
                         for i in range(0, len(level), 2)]
        t3 = time.perf_counter()
        with tracer.span("sketch.decompress"):
            approx = SK.decompress(level[0], dim)
        t4 = time.perf_counter()
        for k, dt in zip(times, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            times[k].append(dt * 1e3)
    exact = np.zeros(dim)
    for k, v in grads:
        exact[k] += v
    payload = float(np.mean([len(b) for b in bufs]))
    layers = {f"sketch.{k}_ms": median(v) for k, v in times.items()}
    layers.update({
        "sketch.nnz": float(np.mean([k.size for k, _ in grads])),
        "sketch.payload_bytes": payload,
        "sketch.ratio_vs_dense": 8.0 * dim / payload,
        "sketch.rel_l2_err": float(np.linalg.norm(approx - exact) / np.linalg.norm(exact)),
    })
    problems = []
    sketched = [s.exact_values is None for s in sgs]
    if compression == "Sketch":
        floor = MIN_NNZ_OVER_FALLBACK * cfg.auto_fallback_nnz
        if min(k.size for k, _ in grads) < floor or not all(sketched):
            problems.append(f"codec regime: partition gradients must be sketched with nnz >= {floor}")
    elif any(sketched):
        problems.append("codec regime: compression=None must ship identity payloads")
    return layers, problems


def _epoch_layers(stats, groups: list[str], fits) -> dict:
    """Per-epoch Spark counters over the traced fits' job groups."""
    stats.drain()
    s = stats.summarize([j for g in groups for j in stats.group_job_ids(g)])
    epochs = sum(r.epochs_run for r in fits)
    epoch_ms = sum(sum(r.epoch_times_ms) for r in fits)
    return {
        "sgd.epoch.jobs": s["jobs"] / epochs,
        "sgd.epoch.stages": s["stages"] / epochs,
        "sgd.epoch.tasks": s["tasks"] / epochs,
        "sgd.epoch.task_run_ms": s["task_run_ms"] / epochs,
        "sgd.epoch.task_cpu_ms": s["task_cpu_ms"] / epochs,
        "sgd.epoch.task_wait_ms": (s["job_ms"] - s["busy_ms"]) / epochs,
        "sgd.epoch.driver_ms": (epoch_ms - s["job_ms"]) / epochs,
        "sgd.epoch.spark_shuffle_bytes": s["shuffle_bytes"] / epochs,
    }


def run(name: str, spark, seed: int, seconds: float, trace: bool, tracer, stats, work_dir: str) -> Result:
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression
    from sketchmlflink_spark.sources.libsvm import LibSVMData, read_libsvm, to_dense_features
    from pyspark.sql import functions as F

    cfg = WORKLOADS[name]
    dim = cfg["dim"]
    res = Result()
    train_path = os.path.join(work_dir, f"{name}_{seed}_train.svm")
    holdout_path = os.path.join(work_dir, f"{name}_{seed}_holdout.svm")
    reps: dict[str, list[float]] = {}

    # set-up, repeated: generate, ingest, blockify
    prepared = None
    for r in range(SETUP_REPS):
        if prepared is not None:
            prepared.unpersist()
        t0 = time.perf_counter()
        with tracer.span("gen.make_libsvm"):
            arrays = gen.make_libsvm(train_path, holdout_path, seed, cfg["kind"],
                                     cfg["n_train"], cfg["n_holdout"], dim)
        df, prepared = _prepare(spark, cfg, train_path, dim, tracer, reps)
        res.setup_reps_s.append(time.perf_counter() - t0)
    res.notes["input_digest"] = f"{gen.file_digest(train_path)}/{gen.file_digest(holdout_path)}"
    res.layers.update({k: median(v) for k, v in reps.items()})
    res.layers["sources.rows"] = float(prepared.n_total)
    res.layers["sources.input_bytes"] = float(os.path.getsize(train_path))
    res.layers["sgd.partitions"] = float(prepared.blocks.getNumPartitions())

    def fit(iterations: int):
        mlr = MultipleLinearRegression(iterations=iterations, step_size=cfg["step"],
                                       compression=cfg["compression"])
        return mlr.fit(df, dim=dim, prepared=prepared)

    t0 = time.perf_counter()
    res.attempt("warm-up fit", fit, 1)
    res.warmup_s = time.perf_counter() - t0

    # timed region: whole fits until the time is used; in a traced run
    # every second fit, from the first, is traced; the others give the
    # overhead baseline
    fits, traced_fits, groups = [], [], []
    epoch_ms, traced_epoch_ms = [], []
    model = None  # the last fitted model, evaluated on the holdout rows
    t_start = time.perf_counter()
    t_end = t_start + seconds
    i = 0
    while time.perf_counter() < t_end:
        traced = trace and i % 2 == 0
        group = f"perfbench-fit-{i}"
        i += 1
        t0 = time.perf_counter()
        if traced:
            with stats.job_group(group), tracer.span("sgd.fit"):
                mlr = res.attempt("fit", fit, cfg["epochs"])
            groups.append(group)
        else:
            mlr = res.attempt("fit", fit, cfg["epochs"])
        fit_s = time.perf_counter() - t0
        if mlr is None:
            continue
        model, r = mlr, mlr.result_
        if not r.losses[-1] < r.losses[0]:
            res.fail(f"fit {i}: loss did not fall ({r.losses[0]:.4g} -> {r.losses[-1]:.4g})")
        (traced_epoch_ms if traced else epoch_ms).extend(r.epoch_times_ms)
        (traced_fits if traced else fits).append(r)
        if not traced:
            res.throughput.append(r.n_train * r.epochs_run / fit_s)
            res.exchange_bytes.append(r.shuffle_bytes / r.epochs_run)
    res.timed = (t_start, time.perf_counter())
    pct, res.op_ms_tail = tail(epoch_ms)
    res.op_ms, res.traced_op_ms = median(epoch_ms), median(traced_epoch_ms)
    res.notes["fits"] = f"{len(fits)} untraced + {len(traced_fits)} traced x {cfg['epochs']} epochs"
    res.notes["op_ms_tail"] = f"p{pct} of {len(epoch_ms)} untraced epochs"

    # holdout evaluation (the reference's CSV_Line avg_error)
    def evaluate():
        ho = read_libsvm(spark, holdout_path).df
        if cfg["kind"] == "dense":
            ho = to_dense_features(LibSVMData(ho, dim))
        row = model.evaluate(ho).agg(
            F.avg(F.abs(F.col("truth") - F.col("prediction"))).alias("err"),
            F.avg(F.abs("truth")).alias("zero"),
        ).first()
        return row["err"], row["zero"]

    with tracer.span("sgd.evaluate"):
        got = res.attempt("holdout evaluation", evaluate) if model is not None else None
    if got is not None:
        err, zero = got
        res.layers["sgd.holdout_avg_abs_err"] = err
        res.notes["holdout"] = f"avg_abs_err {err:.4f} vs {zero:.4f} predicting zero (ratio {err / zero:.3f})"
        if not err <= HOLDOUT_MAX_RATIO[name] * zero:
            res.fail(f"holdout avg_abs_err {err:.4f} above {HOLDOUT_MAX_RATIO[name]} x {zero:.4f}")

    if trace:
        if traced_fits:
            res.layers.update(_epoch_layers(stats, groups, traced_fits))
        res.layers["sgd.epoch.broadcast_bytes"] = float(len(pickle.dumps((np.zeros(dim), 0.0), protocol=5)))
        grads = partition_gradients(arrays, PARTITIONS)
        layers, problems = sketch_layer(grads, cfg["compression"], dim, tracer)
        res.layers.update(layers)
        for p in problems:
            res.fail(p)
        res.attempted += 1  # the codec-regime assertion
    prepared.unpersist()
    return res
