"""SGD training arms vs closed-form OLS oracle (SURVEY.md §5):
exact arm converges toward the generating model; sketch arm tracks the
exact arm within a tolerance band (the reference's A/B protocol,
Test.scala:43-117); aggregation-strategy toggle parity."""

from __future__ import annotations

import numpy as np
import pytest

from sketchmlflink_spark.config import SketchConfig, SolverConfig
from sketchmlflink_spark.ml import sgd as SGD
from sketchmlflink_spark.ml.regression import MultipleLinearRegression, NotFittedError

DIM = 8
N = 2000
TRUE_W = np.array([0.5, -1.0, 2.0, 0.0, 1.5, -0.5, 0.25, -2.0])
TRUE_B = 0.5


@pytest.fixture(scope="module")
def training_df(spark):
    rng = np.random.default_rng(42)
    X = rng.standard_normal((N, DIM))
    y = X @ TRUE_W + TRUE_B + rng.normal(0, 0.01, N)
    rows = [(float(y[i]), X[i].tolist()) for i in range(N)]
    return spark.createDataFrame(rows, "label double, features array<double>").repartition(8)


def _avg_abs_err(w, b):
    rng = np.random.default_rng(7)
    Xt = rng.standard_normal((500, DIM))
    yt = Xt @ TRUE_W + TRUE_B
    return float(np.mean(np.abs(Xt @ w + b - yt)))


def test_exact_arm_converges(training_df):
    solver = SolverConfig(iterations=60, step_size=0.5)
    res = SGD.train(training_df, solver, SketchConfig(compression_type="None"))
    err = _avg_abs_err(res.weights, res.intercept)
    assert err < 0.15, f"exact arm avg |err| {err}"
    # loss history decreases overall
    assert res.losses[-1] < res.losses[0]


def test_sketch_arm_tracks_exact_arm(training_df):
    exact = SGD.train(
        training_df, SolverConfig(iterations=40, step_size=0.5), SketchConfig(compression_type="None")
    )
    sketch = SGD.train(
        training_df, SolverConfig(iterations=40, step_size=0.5), SketchConfig(compression_type="Sketch")
    )
    e_exact = _avg_abs_err(exact.weights, exact.intercept)
    e_sketch = _avg_abs_err(sketch.weights, sketch.intercept)
    # A/B acceptance: sketch arm within a band of the exact arm
    assert e_sketch < max(3 * e_exact, 0.5), f"sketch {e_sketch} vs exact {e_exact}"


def test_reduce_group_strategy_matches_reduce_when_lossless(training_df):
    cfg = SketchConfig(compression_type="None")
    a = SGD.train(training_df, SolverConfig(iterations=3, step_size=0.1, aggregation="reduce"), cfg)
    b = SGD.train(training_df, SolverConfig(iterations=3, step_size=0.1, aggregation="reduce_group"), cfg)
    # identity compression ⇒ both strategies compute the identical sum
    np.testing.assert_allclose(a.weights, b.weights, rtol=1e-9)
    assert abs(a.intercept - b.intercept) < 1e-9


def test_convergence_threshold_early_stops(training_df):
    solver = SolverConfig(iterations=100, step_size=0.5, convergence_threshold=1e-4)
    res = SGD.train(training_df, solver, SketchConfig(compression_type="None"))
    assert res.epochs_run < 100, "threshold should stop before the iteration cap"


def test_l2_regularization_shrinks_weights(training_df):
    plain = SGD.train(training_df, SolverConfig(iterations=20, step_size=0.5), SketchConfig(compression_type="None"))
    reg = SGD.train(
        training_df,
        SolverConfig(iterations=20, step_size=0.5, regularization="l2", reg_lambda=5.0),
        SketchConfig(compression_type="None"),
    )
    assert np.linalg.norm(reg.weights) < np.linalg.norm(plain.weights)


def test_estimator_api_and_metrics_report(spark, training_df):
    mlr = MultipleLinearRegression(iterations=10, step_size=0.5, compression="None")
    report = mlr.fit_evaluate_report(spark, training_df).collect()
    assert len(report) == 1
    row = report[0].asDict()
    assert row["sketch_or_flink"] == "Flink"
    assert row["avg_error"] < 1.0
    assert row["total_time_ms"] > 0
    # predict-before-fit guard (SMLR:154-165)
    with pytest.raises(NotFittedError):
        MultipleLinearRegression().predict(training_df)


def test_sketch_reduces_shuffle_bytes(spark):
    """P1: at realistic gradient width the sketch arm ships fewer bytes
    than identity (at tiny dims the codec honestly falls back to exact —
    see SketchConfig.auto_fallback_nnz)."""
    rng = np.random.default_rng(9)
    wide_dim = 4000
    X = rng.standard_normal((300, wide_dim))
    w_true = rng.standard_normal(wide_dim)
    y = X @ w_true
    df = spark.createDataFrame(
        [(float(y[i]), X[i].tolist()) for i in range(300)],
        "label double, features array<double>",
    ).repartition(4)
    dense = SGD.train(df, SolverConfig(iterations=2, step_size=0.01), SketchConfig(compression_type="None"))
    sk = SGD.train(df, SolverConfig(iterations=2, step_size=0.01), SketchConfig(compression_type="Sketch"))
    assert sk.shuffle_bytes < dense.shuffle_bytes / 3, (
        f"sketch {sk.shuffle_bytes}B vs dense {dense.shuffle_bytes}B"
    )


def test_tiny_gradient_auto_fallback_is_exact(spark, training_df):
    """dim-8 gradients ship exact even under compression=Sketch — the
    sketch envelope would be larger than the data."""
    a = SGD.train(training_df, SolverConfig(iterations=3, step_size=0.1), SketchConfig(compression_type="Sketch"))
    b = SGD.train(training_df, SolverConfig(iterations=3, step_size=0.1), SketchConfig(compression_type="None"))
    np.testing.assert_allclose(a.weights, b.weights, rtol=1e-9)


# ---------------------------------------------------------------- sparse arm
def _to_sparse_rows(X):
    """Dense fixture rows → COO (indices, values) keeping explicit zeros
    out (the LibSVM representation, FIXTURES.md §1)."""
    rows = []
    for x in X:
        nz = np.nonzero(x)[0]
        rows.append((nz.astype(int).tolist(), x[nz].tolist()))
    return rows


def test_sparse_path_matches_dense_exactly(spark, training_df):
    """A dense ``features`` frame, projected to COO inside the SGD core,
    trains the SAME model as explicit COO rows over the same positions
    (compression None), like the reference's SparseVector.fromCOO rows
    (Test.scala:171)."""
    rows = training_df.collect()
    sparse_rows = [
        (r["label"], list(range(DIM)), list(r["features"])) for r in rows
    ]
    sparse_df = spark.createDataFrame(
        sparse_rows, "label double, indices array<int>, values array<double>"
    ).repartition(8)
    cfg = SketchConfig(compression_type="None")
    solver = SolverConfig(iterations=5, step_size=0.5)
    dense = SGD.train(training_df, solver, cfg)
    sparse = SGD.train(sparse_df, solver, cfg, dim=DIM)
    np.testing.assert_allclose(sparse.weights, dense.weights, rtol=1e-9)
    assert sparse.intercept == pytest.approx(dense.intercept, rel=1e-9)
    np.testing.assert_allclose(sparse.losses, dense.losses, rtol=1e-9)


def test_sparse_wide_libsvm_converges(spark, tmp_path):
    """Wide sparse LibSVM fixture (dim ≥ 1e5) trains end-to-end on the
    COO path — no densified rows anywhere (dense rows would need
    n·dim·8 bytes) — and converges toward the
    generating model (the reference's actual workload: wide LibSVM
    swept over --maxDim, runtest.sh:34-36)."""
    from sketchmlflink_spark.sources.libsvm import read_libsvm

    rng = np.random.default_rng(11)
    wide_dim = 120_000
    n = 1500
    n_signal = 40  # informative block; the rest is zero-weight noise space
    w_true = np.zeros(wide_dim)
    w_true[:n_signal] = rng.standard_normal(n_signal)
    b_true = 0.25
    lines = []
    for _ in range(n):
        sig = rng.choice(n_signal, size=8, replace=False)
        noise = rng.integers(n_signal, wide_dim, size=4)
        idx = np.concatenate([sig, noise])
        val = rng.standard_normal(12)
        y = float(val[:8] @ w_true[sig] + b_true)
        pairs = " ".join(f"{i + 1}:{v:.6f}" for i, v in zip(idx, val))  # 1-based on disk
        lines.append(f"{y:.6f} {pairs}")
    path = tmp_path / "wide.libsvm"
    path.write_text("\n".join(lines) + "\n")

    data = read_libsvm(spark, str(path))
    assert data.dim >= 100_000
    # exact codec isolates the sparse gradient math (numpy-simulated
    # reference run: loss ratio 0.006, signal-block werr 0.06)
    res = SGD.train(
        data.df.repartition(8),
        SolverConfig(iterations=40, step_size=0.3, lr_schedule="constant"),
        SketchConfig(compression_type="None"),
        dim=data.dim,
    )
    assert res.losses[-1] < 0.1 * res.losses[0], f"losses {res.losses[0]} → {res.losses[-1]}"
    # recovered weights track the generating model on the signal block
    err = float(np.mean(np.abs(res.weights[:n_signal] - w_true[:n_signal])))
    assert err < 0.2, f"signal-block avg |w err| {err}"
    # sketch arm on the same wide COO data: improves the loss through the
    # quantization noise floor (A/B band; codec accuracy itself has
    # dedicated round-trip bound tests in test_sketch_codec.py)
    sk = SGD.train(
        data.df.repartition(8),
        SolverConfig(iterations=15, step_size=0.3, lr_schedule="constant"),
        SketchConfig(compression_type="Sketch"),
        dim=data.dim,
    )
    assert sk.losses[-1] < 0.85 * sk.losses[0], f"sketch losses {sk.losses[0]} → {sk.losses[-1]}"


def test_sparse_predict_matches_numpy(spark, training_df):
    """Sparse predict UDF (x·w + b over COO columns) against driver-side
    numpy, including duplicate-index rows (contributions sum)."""
    mlr = MultipleLinearRegression(iterations=5, step_size=0.5, compression="None")
    mlr.fit(training_df)
    rows = training_df.limit(50).collect()
    sparse_rows = [(r["label"], list(range(DIM)), list(r["features"])) for r in rows]
    sparse_df = spark.createDataFrame(
        sparse_rows, "label double, indices array<int>, values array<double>"
    )
    got = {tuple(r["values"]): r["prediction"] for r in mlr.predict(sparse_df).collect()}
    for r in rows:
        x = np.array(r["features"])
        expect = float(x @ mlr.weights_ + mlr.intercept_)
        assert got[tuple(r["features"])] == pytest.approx(expect, rel=1e-9)


def test_squared_residual_sum_matches_numpy(spark, training_df):
    """A5 (SMLR:62-78): sum of half squared residuals at the fitted
    weights — cross-checked against driver-side numpy on the collected
    fixture (sum, NOT average; the ½ factor per FlinkML SquaredLoss)."""
    mlr = MultipleLinearRegression(iterations=10, step_size=0.5, compression="None")
    mlr.fit(training_df)
    srs = mlr.squared_residual_sum(training_df)
    rows = training_df.collect()
    X = np.array([r["features"] for r in rows])
    y = np.array([r["label"] for r in rows])
    expect = float(0.5 * ((X @ mlr.weights_ + mlr.intercept_ - y) ** 2).sum())
    assert srs == pytest.approx(expect, rel=1e-9)
    with pytest.raises(NotFittedError):
        MultipleLinearRegression().squared_residual_sum(training_df)


def test_learning_rate_schedules_closed_form():
    """Every FlinkML LearningRateMethod variant against its closed form
    (flink-ml 1.7 IterativeSolver.LearningRateMethod; wired per
    superstep at FlinkGradientDescent.scala:242-245)."""
    from sketchmlflink_spark.ml.sgd import _learning_rate

    eta0, lam, decay = 0.4, 0.03, 0.7
    for t in (1, 2, 5, 17):
        base = SolverConfig(step_size=eta0, reg_lambda=lam, lr_decay=decay)
        assert _learning_rate(base, t) == pytest.approx(eta0 / np.sqrt(t))
        assert _learning_rate(
            SolverConfig(step_size=eta0, lr_schedule="constant"), t
        ) == pytest.approx(eta0)
        # Bottou with default optimalInit = 1/(eta0*lam): first step == eta0
        got = _learning_rate(
            SolverConfig(step_size=eta0, reg_lambda=lam, lr_schedule="bottou"), t
        )
        assert got == pytest.approx(1.0 / (lam * (1.0 / (eta0 * lam) + t - 1)))
        # explicit optimalInit
        got = _learning_rate(
            SolverConfig(
                step_size=eta0, reg_lambda=lam, lr_schedule="bottou", bottou_optimal_init=50.0
            ),
            t,
        )
        assert got == pytest.approx(1.0 / (lam * (50.0 + t - 1)))
        assert _learning_rate(
            SolverConfig(step_size=eta0, lr_schedule="inv_scaling", lr_decay=decay), t
        ) == pytest.approx(eta0 / t**decay)
        assert _learning_rate(
            SolverConfig(step_size=eta0, reg_lambda=lam, lr_schedule="xu", lr_decay=decay), t
        ) == pytest.approx(eta0 * (1.0 + lam * eta0 * t) ** -decay)
    assert _learning_rate(SolverConfig(step_size=eta0, lr_schedule="bottou", reg_lambda=lam), 1) == pytest.approx(eta0)


def test_all_schedules_train(spark, training_df):
    """Each schedule trains end-to-end and decreases the loss."""
    for sched, kw in [
        ("inv_sqrt", {}),
        ("constant", {}),
        ("bottou", {"reg_lambda": 0.01, "regularization": "l2"}),
        ("inv_scaling", {}),
        ("xu", {"reg_lambda": 0.01, "regularization": "l2"}),
    ]:
        res = SGD.train(
            training_df,
            SolverConfig(iterations=5, step_size=0.5, lr_schedule=sched, **kw),
            SketchConfig(compression_type="None"),
        )
        assert res.losses[-1] < res.losses[0], f"{sched} did not decrease loss"


def test_widedim_payload_is_o_nnz(spark):
    """dim 2^20 sparse training: the shipped gradient payload must scale
    with nnz, not dim (VERDICT r3 "what's missing" #3). A dense partial
    would be dim*8 = 8.4 MB per partition per epoch; we assert the
    WHOLE run's accumulated payload (every leaf + every re-sketched
    combine hop, all epochs) stays far below ONE dense partial."""
    import numpy as np

    dim = 1 << 20
    rng = np.random.default_rng(7)
    rows = []
    for doc in range(400):
        idx = rng.choice(dim, size=20, replace=False).astype("int64")
        vals = [1.0] * 20
        label = 0.01 * 20 + float(doc % 7) * 1e-4
        rows.append((int(doc), [int(i) for i in idx], vals, label))
    df = spark.createDataFrame(
        rows, "doc_id long, indices array<int>, values array<double>, label double"
    ).repartition(8)

    res = SGD.train(
        df,
        SolverConfig(iterations=3, step_size=0.01),
        SketchConfig(compression_type="Sketch"),
        dim=dim,
    )
    assert res.epochs_run == 3
    dense_one_partial = dim * 8
    assert res.shuffle_bytes < dense_one_partial // 2, (
        f"payload {res.shuffle_bytes} B is not O(nnz) "
        f"(one dense partial would be {dense_one_partial} B)"
    )
    # and the model actually learned something
    assert res.losses[-1] < res.losses[0]


# --------------------------------------------------------------------------
# pluggable loss (M1): logistic arm through the same machinery
# --------------------------------------------------------------------------
def test_loss_grad_logistic_finite_difference():
    """Analytic dloss/dprediction matches central finite differences,
    including extreme margins where a naive sigmoid overflows."""
    f = SGD._loss_grad("logistic")
    p = np.array([-800.0, -3.0, -0.1, 0.0, 0.2, 5.0, 800.0])
    y = np.array([1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0])
    g, loss = f(p, y)
    assert np.isfinite(loss) and np.isfinite(g).all()
    eps = 1e-6
    for i in range(len(p)):
        if abs(p[i]) > 100:  # flat region: gradient ≈ 0 or ±1, fd unstable
            continue
        pp, pm = p.copy(), p.copy()
        pp[i] += eps
        pm[i] -= eps
        fd = (f(pp, y)[1] - f(pm, y)[1]) / (2 * eps)
        assert abs(fd - g[i]) < 1e-5, f"i={i}: fd {fd} vs analytic {g[i]}"
    # saturated margins: correctly-classified huge margin → ~0 gradient,
    # badly-misclassified → full-strength ±1
    assert abs(g[0] - (-1.0)) < 1e-12  # y=+1, p=-800: g = -y·sigma(800) ≈ -1
    assert abs(g[-1] - 1.0) < 1e-12  # y=-1, p=+800: g = +1


def test_loss_grad_rejects_unknown():
    with pytest.raises(ValueError, match="unknown loss"):
        SGD._loss_grad("hinge")


@pytest.fixture(scope="module")
def classification_df(spark):
    rng = np.random.default_rng(41)
    X = rng.standard_normal((N, DIM))
    margin = X @ TRUE_W + TRUE_B
    y = np.where(margin >= 0, 1.0, -1.0)
    rows = [(float(y[i]), X[i].tolist()) for i in range(N)]
    return spark.createDataFrame(rows, "label double, features array<double>").repartition(8)


def _accuracy(w, b, seed=11):
    rng = np.random.default_rng(seed)
    Xt = rng.standard_normal((500, DIM))
    yt = np.where(Xt @ TRUE_W + TRUE_B >= 0, 1.0, -1.0)
    return float(np.mean(np.where(Xt @ w + b >= 0, 1.0, -1.0) == yt))


def test_logistic_exact_arm_learns_separator(classification_df):
    solver = SolverConfig(iterations=40, step_size=0.5, loss="logistic")
    res = SGD.train(classification_df, solver, SketchConfig(compression_type="None"))
    assert res.losses[-1] < res.losses[0]
    acc = _accuracy(res.weights, res.intercept)
    assert acc >= 0.95, f"holdout accuracy {acc}"


def test_logistic_sketch_arm_tracks_exact(classification_df):
    """The codec path is loss-agnostic. Two regimes, mirroring
    test_sketch_arm_tracks_exact_arm: (1) compression_type='Sketch'
    with the default auto-fallback — at dim 8 the envelope ships exact
    floats, so the arm must MATCH the exact arm; (2) codec force-on
    (auto_fallback_nnz=0) — deliberately out of SketchML's wide-sparse
    design regime at dim 8, so we assert it still learns a usable
    separator rather than parity (the in-regime fidelity claim lives in
    the wide-dim sparse tests and the codec error-bound suite)."""
    solver = SolverConfig(iterations=40, step_size=0.5, loss="logistic")
    exact = SGD.train(classification_df, solver, SketchConfig(compression_type="None"))
    sk = SGD.train(classification_df, solver, SketchConfig(compression_type="Sketch"))
    np.testing.assert_allclose(exact.weights, sk.weights, rtol=1e-9)
    forced = SGD.train(classification_df, solver, SketchConfig(auto_fallback_nnz=0))
    acc_e = _accuracy(exact.weights, exact.intercept)
    acc_f = _accuracy(forced.weights, forced.intercept)
    assert acc_e >= 0.95, f"exact logistic arm accuracy {acc_e}"
    assert acc_f >= 0.7, f"forced-codec logistic arm accuracy {acc_f}"
    assert forced.losses[-1] < forced.losses[0]


def test_logistic_sparse_path_matches_dense(spark, classification_df):
    """A dense frame's projection to COO trains the same logistic model
    as explicit COO rows (one loss plugin, reached through
    _make_partial_fn)."""
    from pyspark.sql import functions as F

    coo = classification_df.select(
        "label",
        F.transform("features", lambda _, i: i).alias("indices"),
        F.col("features").alias("values"),
    )
    solver = SolverConfig(iterations=5, step_size=0.5, loss="logistic")
    dense = SGD.train(classification_df, solver, SketchConfig(compression_type="None"))
    sparse = SGD.train(coo, solver, SketchConfig(compression_type="None"), dim=DIM)
    assert np.allclose(dense.weights, sparse.weights, atol=1e-9)
    assert abs(dense.intercept - sparse.intercept) < 1e-9


# --------------------------------------------------------------------------
# the epoch's merge tree: one Spark stage, treeReduce's schedule
# --------------------------------------------------------------------------
def test_undersized_dim_fails_on_the_driver(spark):
    """A dim below the data's largest index + 1 is a ValueError on the
    driver, not an IndexError inside an executor; the blocks train
    prepared for itself are released."""
    df = spark.createDataFrame(
        [([0, 9], [1.0, 2.0], 1.0), ([3], [1.0], 0.5)],
        "indices array<int>, values array<double>, label double",
    )
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="dim=4 .* dimension 10"):
        SGD.train(df, SolverConfig(iterations=1), SketchConfig(compression_type="None"), dim=4)
    assert jsc.getPersistentRDDs().size() == persisted


def test_tree_groups_match_pyspark_tree_reduce(spark):
    """Pins ``_tree_groups`` to the installed PySpark: a pairing combiner
    makes treeReduce return its merge tree as a nested tuple, which
    encodes both the grouping and the order of every merge."""
    import functools

    def pair(a, b):
        return (a, b)

    sc = spark.sparkContext
    for p in range(1, 21):
        groups = SGD._tree_groups(p)
        expected = functools.reduce(
            pair, [functools.reduce(pair, range(g, p, groups)) for g in range(groups)]
        )
        assert sc.parallelize(range(p), p).treeReduce(pair, depth=2) == expected, p


def _wide_frame(spark, parts: int, empty_part: int | None = None):
    """720 COO rows of 30 random indices in dim 20000, in ``parts``
    partitions (``empty_part`` left empty), so every partition gradient
    has more keys than the sketch codec's exact fallback."""
    rng = np.random.default_rng(parts)
    rows = [
        ([int(i) for i in rng.choice(20_000, size=30, replace=False)],
         rng.standard_normal(30).tolist(), float(rng.standard_normal()))
        for _ in range(720)
    ]
    rdd = spark.sparkContext.parallelize(rows, parts).mapPartitionsWithIndex(
        lambda i, it: iter(()) if i == empty_part else it
    )
    return spark.createDataFrame(rdd, "indices array<int>, values array<double>, label double")


@pytest.mark.parametrize("parts", [4, 5, 6, 9])
def test_one_stage_epoch_equals_tree_reduce(spark, parts):
    """One epoch of the grouped one-stage path gives the record
    ``treeReduce(depth=2)`` gives over the same leaves and broadcast, in
    all six fields (payload bytes, sums, counts, hop bytes), under both
    codecs; "reduce_group" gets the leaves in partition order. The
    9-partition frame has an empty partition, whose leaf still takes
    its place in the fold."""
    from sketchmlflink_spark.ml import sketch as SK

    dim = 20_000
    prepared = SGD.prepare_blocks(_wide_frame(spark, parts, 2 if parts == 9 else None))
    rng = np.random.default_rng(3)
    bc = spark.sparkContext.broadcast((rng.normal(0.0, 0.01, dim), 0.1))
    try:
        assert prepared.blocks.getNumPartitions() == parts
        for codec in ("None", "Sketch"):
            cfg = SketchConfig(compression_type=codec)
            leaf = SGD._make_partial_fn(bc, dim, cfg)
            combine = SGD._make_combine_fn(dim, cfg)
            reference = prepared.blocks.mapPartitions(leaf).treeReduce(combine, depth=2)
            assert SGD._run_epoch(prepared.groups, leaf, combine) == reference, codec
            leaves = prepared.blocks.mapPartitions(leaf).collect()
            assert SGD._run_epoch(prepared.groups, leaf) == leaves, codec
            assert len(leaves) == parts
        assert SK.from_bytes(reference["payload"]).exact_values is None  # sketched
    finally:
        bc.destroy()
        prepared.unpersist()


def test_epoch_runs_one_job_and_one_stage(spark, training_df):
    """The epoch's work counter: on 6 partitions (2 tree groups) each
    epoch of ``train`` is one job whose one stage runs 2 tasks. The
    regroup's shuffle map stage belongs to the job's lineage but is
    skipped (its output is reused), so it runs no task."""
    sc = spark.sparkContext
    group = "test_sgd_epoch_counters"
    df = training_df.repartition(6)
    prepared = SGD.prepare_blocks(df)
    try:
        sc.setJobGroup(group, group)
        try:
            res = SGD.train(df, SolverConfig(iterations=2, step_size=0.1),
                            SketchConfig(compression_type="Sketch"), prepared=prepared)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        prepared.unpersist()
    assert res.epochs_run == 2
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 2
    for job in jobs:
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]
        ran = [st.numTasks for st in stages if st is not None and st.numCompletedTasks > 0]
        assert ran == [2], (job, ran)
