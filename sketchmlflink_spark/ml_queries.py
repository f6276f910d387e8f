"""ML-surface registry entries (SURVEY.md §2.4-2.6 operators exposed to
the driver harness over the `embeddings` table).

The training arms themselves live in sketchmlflink_spark/ml/; entries
here adapt them onto (spark, sf_dir) → DataFrame. Deterministic
fixed-weight prediction and dimension inference are SQL-expressible and
hash-checked; iterative training is rows-only per the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchmlflink_spark.functions import zround
from sketchmlflink_spark.functions.vector import as_double_array, dot
from sketchmlflink_spark.operators.relational import t
from sketchmlflink_spark.registry import register

EMBED_DIM = 64
# Deterministic non-trivial weights: w_i = ((i*37) % 21 - 10) / 10
FIXED_WEIGHTS = [((i * 37) % 21 - 10) / 10.0 for i in range(EMBED_DIM)]
FIXED_INTERCEPT = 0.5


# --------------------------------------------------------------------------
# m01 — predict: y = x·w + b (M6/M7 in SURVEY.md §2.5;
# SketchMultipleLinearRegression.scala:166-171). Pure Catalyst dot.
# --------------------------------------------------------------------------
@register(
    "m01_linear_predict",
    oracle=f"""
SELECT vec_id,
       -- + 0.0: signed-zero normalization after the final round (a
       -- prediction can be a tiny negative; functions.zround's twin)
       round(list_dot_product(CAST(embedding AS DOUBLE[]),
                              {FIXED_WEIGHTS}::DOUBLE[]) + {FIXED_INTERCEPT}, 6) + 0.0 AS prediction
FROM embeddings
""",
    tags=("ml", "predict"),
)
def m01_linear_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear prediction with fixed deterministic weights — the predict
    operator isolated from training, hash-checked against DuckDB."""
    emb = t(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in FIXED_WEIGHTS])
    pred = dot(as_double_array("embedding"), w) + F.lit(FIXED_INTERCEPT)
    return emb.select("vec_id", zround(pred, 6).alias("prediction"))


# --------------------------------------------------------------------------
# m02 — dimension inference (S3 in SURVEY.md §2.1: global max over
# feature indices; here max embedding length).
# --------------------------------------------------------------------------
@register(
    "m02_dimension_inference",
    oracle="SELECT CAST(max(len(embedding)) AS BIGINT) AS dim FROM embeddings",
    tags=("ml", "ingest"),
)
def m02_dimension_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.agg(F.max(F.size("embedding")).cast("long").alias("dim"))


# --------------------------------------------------------------------------
# m03/m04 — the two training arms (A/B protocol of the reference,
# Test.scala:43-117): exact SGD vs sketch-compressed SGD on a
# deterministic synthetic regression target over embeddings.
# Iterative training is not ANSI-SQL-expressible → rows-only checks;
# convergence/accuracy asserted in tests/test_sgd.py.
# --------------------------------------------------------------------------
def _training_df(spark: SparkSession, sf_dir: str, emb: DataFrame | None = None) -> DataFrame:
    """label = x·w* + b* + deterministic 'noise' derived from vec_id
    (no RNG at query time — reproducible across runs and engines).
    ``emb`` overrides the source (the streaming incremental trainer
    passes its micro-batch here)."""
    if emb is None:
        emb = t(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in FIXED_WEIGHTS])
    noise = (F.pmod(F.col("vec_id") * 2654435761, F.lit(1000)) - 500) / 50000.0
    return emb.select(
        F.col("vec_id"),
        as_double_array("embedding").alias("features"),
        (dot(as_double_array("embedding"), w) + F.lit(FIXED_INTERCEPT) + noise).alias("label"),
    )


# Deterministic projection of the CSV_Line row (VERDICT r3 "what's
# missing" #2): the config echo + the modulus-split holdout size are
# exactly reproducible in ANSI SQL, so these columns carry a full
# driver hash check. Timings/error stay on the rows-only full report
# (m08_csvline_report) — they are run-varying by nature.
DET_COLS = (
    "sketch_or_flink", "iterations", "step_size", "compression_type",
    "input_file", "max_dim", "n_test",
)

N_TEST_EMBEDDINGS = "SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id % 4 = 3"


def _det_oracle(arm: str, iterations: int, step: float, compression: str,
                input_file: str, max_dim: int, n_test_sql: str) -> str:
    return f"""
SELECT '{arm}' AS sketch_or_flink,
       CAST({iterations} AS BIGINT) AS iterations,
       CAST({step} AS DOUBLE) AS step_size,
       '{compression}' AS compression_type,
       '{input_file}' AS input_file,
       CAST({max_dim} AS BIGINT) AS max_dim,
       ({n_test_sql}) AS n_test
"""


@register(
    "m03_sgd_exact_metrics",
    oracle=_det_oracle("Flink", 5, 0.5, "None", "embeddings", -1, N_TEST_EMBEDDINGS),
    tags=("ml", "train", "exact-arm"),
)
def m03_sgd_exact_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (uncompressed) arm: 5 epochs, step 0.5, eta/sqrt(t) — the
    reference's canonical config (README.md:15). Returns the CSV_Line
    row's deterministic projection (config echo + n_test of the
    vec_id%4 holdout) so the driver hash-checks the training pipeline's
    contract; timings/error live on m08_csvline_report (rows-only) and
    the convergence proof in tests/test_sgd.py."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    df = _training_df(spark, sf_dir)
    mlr = MultipleLinearRegression(iterations=5, step_size=0.5, compression="None")
    return mlr.fit_evaluate_report(spark, df, split_key="vec_id").select(*DET_COLS)


@register(
    "m06_libsvm_cli_e2e",
    oracle="""
SELECT 'Sketch' AS sketch_or_flink,
       CAST(5 AS BIGINT) AS iterations,
       CAST(0.5 AS DOUBLE) AS step_size,
       'Sketch' AS compression_type,
       CAST(-1 AS BIGINT) AS max_dim
""",
    tags=("ml", "e2e", "libsvm", "cli"),
)
def m06_libsvm_cli_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL CLI pipeline end-to-end (Test.scala:38-77):
    LibSVM text scan → parse (comment/1-based/strict) → dimension
    inference → 75/25 split → sketch-arm fit → evaluate → the CSV_Line
    metrics row. Runs through experiment.run_experiment, i.e. the same
    code path as ``python -m sketchmlflink_spark.experiment``.

    The LibSVM fixture is the embeddings training frame serialized once
    to text under a deterministic temp path (Spark write, no driver
    collect) — fixture plumbing, not an operator; the operator under
    test is the ingest+train pipeline. Driver check: the config-echo
    columns of the CSV_Line row are deterministic and hash-checked
    (input_file/n_test excluded — the fixture path embeds sf_dir and
    the LibSVM rows carry no SQL-reachable split key); the full row
    incl. timings is m08_csvline_report territory."""
    import os
    import tempfile

    from sketchmlflink_spark.experiment import build_arg_parser, run_experiment

    fixture_dir = os.path.join(
        tempfile.gettempdir(),
        "libsvm_fixture_" + sf_dir.strip("/").replace("/", "_"),
    )
    marker = os.path.join(fixture_dir, "_SUCCESS")
    if not os.path.exists(marker):
        df = _training_df(spark, sf_dir)
        pairs = F.transform(
            "features",
            lambda x, i: F.concat((i + 1).cast("string"), F.lit(":"), x.cast("string")),
        )
        lines = df.select(
            F.concat_ws(" ", F.col("label").cast("string"), F.array_join(pairs, " ")).alias(
                "value"
            )
        )
        # partitioned write — the LibSVM reader handles multi-file dirs
        # and a single-task coalesce(1) serialized the whole fixture
        # through one core (VERDICT r4 item 7)
        lines.write.mode("overwrite").text(fixture_dir)
    args = build_arg_parser().parse_args(
        [
            "--inputTrain", fixture_dir,
            "--iterations", "5",
            "--stepSize", "0.5",
            "--compressionType", "Sketch",
            "--sketchOrFlink", "Sketch",
        ]
    )
    row = run_experiment(spark, args)
    return spark.createDataFrame([row]).select(
        "sketch_or_flink", "iterations", "step_size", "compression_type", "max_dim"
    )


@register(
    "m08_csvline_report",
    oracle=None,  # timings/error are run-varying by nature → rows-only
    tags=("ml", "train", "csvline"),
)
def m08_csvline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL CSV_Line metrics row (Test.scala:71-77) for
    the exact arm — the S6 results-sink surface kept driver-visible now
    that m03-m07 project their deterministic columns for hash checks —
    EXTENDED with the gradient-byte accounting (the reference's own
    metrics row concern, Test:72-77): exact_grad_bytes and
    sketch_grad_bytes are the engine's per-combine-hop payload counters
    for the two arms on the identical split, and sketch_byte_ratio is
    their quotient — the PROBE_r07_ml compression headline as a
    queryable engine metric. On THIS dim-64 dense input the ratio reads
    1.0 by design: nnz=64 < auto_fallback_nnz=512, so the sketch arm
    correctly ships exact payloads (sketching small dense gradients
    LOSES bytes — PROBE_r07_ml measured 2.7× worse at dim 16; the ratio
    exceeds 1 in the wide-sparse regime m05/m09 exercise, growing
    4.3→6.5× across three decades). Rows-only: total/per-epoch timings and the
    float-order-sensitive error sums can't be SQL-reproduced; the error
    bound itself is pytest-pinned against closed-form OLS."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    from sketchmlflink_spark.ml import sgd as SGD

    df = _training_df(spark, sf_dir)
    mlr = MultipleLinearRegression(iterations=5, step_size=0.5, compression="None")
    # both arms train on the identical vec_id%4!=3 split — blockify it
    # once and share the cache (guide §1.2); block content is
    # deterministic, so sharing is byte-equal to two preparations. The
    # split comes from the ONE shared predicate (regression.modulus_split
    # — the same function fit_evaluate_report's split_key path calls),
    # so the two arms can never drift onto mismatched data (ADVICE r11).
    from sketchmlflink_spark.ml.regression import modulus_split

    train, _test = modulus_split(df, "vec_id")
    prepared = SGD.prepare_blocks(train)
    try:
        report = mlr.fit_evaluate_report(
            spark, df, split_key="vec_id", prepared_train=prepared
        )
        sk = MultipleLinearRegression(iterations=5, step_size=0.5, compression="Sketch")
        sk.fit(train, prepared=prepared)
    finally:
        prepared.unpersist()
    sketch_bytes = int(sk.result_.shuffle_bytes)
    return (
        report.withColumnRenamed("shuffle_bytes", "exact_grad_bytes")
        .withColumn("sketch_grad_bytes", F.lit(sketch_bytes))
        .withColumn(
            "sketch_byte_ratio",
            F.round(F.col("exact_grad_bytes") / F.greatest(F.col("sketch_grad_bytes"), F.lit(1)), 2),
        )
        .select(
            "sketch_or_flink", "parallelism", "iterations", "step_size",
            "compression_type", "input_file", "max_dim", "total_time_ms",
            "time_per_epoch_ms", "absolute_error", "avg_error",
            "exact_grad_bytes", "sketch_grad_bytes", "sketch_byte_ratio",
        )
    )


HASH_DIM = 1 << 17  # 131072 — wide-sparse regime (dim ≥ 1e5)


def _sparse_training_df(
    spark: SparkSession, sf_dir: str, hash_dim: int = None
) -> DataFrame:
    """Wide sparse COO training set via the hashing trick over document
    tokens: indices = hash(token) mod 2^17, values = 1.0 per occurrence
    (a multiset feature map — duplicate indices sum downstream). The
    label is linear in the features (0.01 per token) plus deterministic
    vec_id-free 'noise', so the regression is learnable and the whole
    construction is reproducible with no RNG.

    Catalyst-only feature extraction; the SGD core (ml/sgd.py
    _blockify) consumes it without densifying — the reference's
    wide-LibSVM workload shape (runtest.sh:34-36)."""
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    noise = (F.pmod(F.col("doc_id") * 2654435761, F.lit(1000)) - 500) / 100000.0
    return (
        docs.select(
            "doc_id",
            F.transform(toks, lambda tk: F.pmod(F.hash(tk), F.lit(hash_dim or HASH_DIM)).cast("int")).alias(
                "indices"
            ),
            F.transform(toks, lambda _: F.lit(1.0)).alias("values"),
            (F.size(toks) * 0.01 + noise).alias("label"),
        )
        .where(F.size("indices") > 0)
    )


@register(
    "m05_sgd_sparse_metrics",
    oracle=_det_oracle(
        "Sketch", 5, 0.01, "Sketch", "documents_hashing_trick", HASH_DIM,
        "SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 4 = 3",
    ),
    tags=("ml", "train", "sparse-arm"),
)
def m05_sgd_sparse_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-features arm: wide COO (dim 131072) hashing-trick features
    trained without densifying — the SparseVector branch of the
    reference (SketchGradientDescent.scala:198-217) as a first-class
    driver query. Deterministic CSV_Line projection (see m03; the
    size(indices)>0 guard never drops a row — split() yields at least
    one element — so the oracle's n_test is a plain doc_id%4 count);
    convergence/parity asserted in tests/test_sgd.py."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    df = _sparse_training_df(spark, sf_dir)
    mlr = MultipleLinearRegression(iterations=5, step_size=0.01, compression="Sketch")
    return mlr.fit_evaluate_report(
        spark, df, input_file="documents_hashing_trick", max_dim=HASH_DIM, dim=HASH_DIM,
        split_key="doc_id",
    ).select(*DET_COLS)


HASH_DIM_WIDE = 1 << 20  # 1,048,576 — the reference's maxDim-in-the-millions axis


@register(
    "m09_sgd_million_dim",
    oracle=_det_oracle(
        "Sketch", 3, 0.01, "Sketch", "documents_hashing_trick_1m", HASH_DIM_WIDE,
        "SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 4 = 3",
    ),
    tags=("ml", "train", "sparse-arm", "wide-dim"),
)
def m09_sgd_million_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m05's sparse arm at dim 2^20 ≈ 1e6 — the reference's maxDim
    stress axis (Test.scala:150, runtest.sh:34-36). Every structure
    except the dense model vector (8 MB broadcast, by design) stays
    O(nnz): COO blocks, compress_kv partials, kv-merge combine hops.
    tests/test_sgd.py::test_widedim_payload_is_o_nnz pins the shipped
    payload bound; tests/test_sketch_codec.py proves the codec at a
    dim where densifying is physically impossible (2^33 → 64 GiB)."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    df = _sparse_training_df(spark, sf_dir, hash_dim=HASH_DIM_WIDE)
    mlr = MultipleLinearRegression(iterations=3, step_size=0.01, compression="Sketch")
    return mlr.fit_evaluate_report(
        spark, df, input_file="documents_hashing_trick_1m",
        max_dim=HASH_DIM_WIDE, dim=HASH_DIM_WIDE, split_key="doc_id",
    ).select(*DET_COLS)


@register(
    "m04_sgd_sketch_metrics",
    oracle=_det_oracle("Sketch", 5, 0.5, "Sketch", "embeddings", -1, N_TEST_EMBEDDINGS),
    tags=("ml", "train", "sketch-arm"),
)
def m04_sgd_sketch_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-compressed arm (the reference's raison d'être): gradients
    quantile-quantized + minmax-sketched before aggregation.
    Deterministic CSV_Line projection (see m03); the codec's error
    bounds are pytest-pinned."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    from sketchmlflink_spark.config import SketchConfig

    df = _training_df(spark, sf_dir)
    # auto_fallback_nnz=0: force real sketching even at dim 64 so the
    # driver-visible arm exercises the codec, not the fallback
    mlr = MultipleLinearRegression(
        iterations=5, step_size=0.5, compression="Sketch",
        sketch_cfg=SketchConfig(auto_fallback_nnz=0),
    )
    return mlr.fit_evaluate_report(spark, df, split_key="vec_id").select(*DET_COLS)


# --------------------------------------------------------------------------
# m07 — LearningRateMethod sweep: all five FlinkML schedules, one query.
# --------------------------------------------------------------------------
LR_SCHEDULES = ("inv_sqrt", "constant", "bottou", "inv_scaling", "xu")


@register(
    "m07_lr_schedule_sweep",
    # Closed-form eta at the final step (t=3) per FlinkML schedule, with
    # m07's lambda/decay parameterization — the SQL re-derives the same
    # formulas the solver's _learning_rate implements, so a drifted
    # schedule implementation hash-mismatches here.
    oracle="""
SELECT * FROM (VALUES
  ('inv_sqrt',    CAST(3 AS BIGINT), round(CAST(0.5/sqrt(3) AS DOUBLE), 6)),
  ('constant',    CAST(3 AS BIGINT), CAST(0.5 AS DOUBLE)),
  ('bottou',      CAST(3 AS BIGINT), round(CAST(1.0/(0.1*(1.0/(0.5*0.1) + 3 - 1)) AS DOUBLE), 6)),
  ('inv_scaling', CAST(3 AS BIGINT), round(CAST(0.5/pow(3, 0.25) AS DOUBLE), 6)),
  ('xu',          CAST(3 AS BIGINT), round(CAST(0.5*pow(1.0 + 0.1*0.5*3, -0.5) AS DOUBLE), 6))
) AS t(lr_schedule, epochs_run, final_eta)
""",
    tags=("ml", "train", "lr-schedule"),
)
def m07_lr_schedule_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact-arm training per FlinkML LearningRateMethod (Default/
    inv_sqrt, Constant, Bottou, InvScaling, Xu —
    FlinkMultipleLinearRegression.scala:116-119), same data/seed/epochs,
    reporting each schedule's final-step eta as computed by the SAME
    ``_learning_rate`` the training loop calls — hash-checked against
    the closed forms in SQL (the losses the sweep also produces are
    float-aggregation-order-sensitive, so their comparison lives in
    tests/test_sgd.py, not the hash check). Scale shape: each arm is
    the m03 epoch loop (one Spark stage per epoch folding the
    treeReduce merge tree); arms run sequentially sharing the cached
    training blocks, so the corpus is blockified once."""
    from sketchmlflink_spark.config import SketchConfig, SolverConfig
    from sketchmlflink_spark.ml import sgd as SGD

    df = _training_df(spark, sf_dir)
    # blockify ONCE for the whole sweep (the docstring's promise, now
    # actually kept): five arms used to pay five scan+Arrow+pickle
    # passes for byte-identical block caches
    prepared = SGD.prepare_blocks(df)
    rows = []
    for sched in LR_SCHEDULES:
        cfg = SolverConfig(
            iterations=3,
            step_size=0.5,
            lr_schedule=sched,
            # Bottou/Xu schedules are parameterized by lambda; InvScaling
            # by its decay exponent — pick values that keep all five
            # curves distinct (lambda=0 Xu or decay=0.5 InvScaling would
            # degenerate to Constant / Default)
            reg_lambda=0.1 if sched in ("bottou", "xu") else 0.0,
            lr_decay=0.25 if sched == "inv_scaling" else 0.5,
        )
        res = SGD.train(df, cfg, SketchConfig(compression_type="None"), prepared=prepared)
        rows.append(
            {
                "lr_schedule": sched,
                "epochs_run": int(res.epochs_run),
                # the eta the last superstep actually used (white-box:
                # same function the epoch loop evaluates)
                "final_eta": round(SGD._learning_rate(cfg, res.epochs_run), 6),
            }
        )
    prepared.unpersist()
    return spark.createDataFrame(rows).select("lr_schedule", "epochs_run", "final_eta")


# --------------------------------------------------------------------------
# m10 — pluggable-loss proof: LOGISTIC loss through the SAME sketched
# SGD machinery (M1's plugin point exercised with a second instance —
# the reference ships squared loss behind a pluggable LossFunction).
# --------------------------------------------------------------------------
@register(
    "m10_logistic_sgd_metrics",
    # Config echo + the class balance of the deterministic ±1 labels:
    # the SQL re-derives margin = x·w* + b* + noise(vec_id) and its
    # sign split, so a drifted label/featurization pipeline (or a Spark
    # arm training on different data) hash-mismatches here. Training
    # itself is iterative → accuracy/loss are pytest territory.
    oracle=f"""
WITH m AS (
    SELECT CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]),
                                      {FIXED_WEIGHTS}::DOUBLE[])
                     + {FIXED_INTERCEPT}
                     + (vec_id * 2654435761 % 1000 - 500) / 50000.0 >= 0
                THEN 1 ELSE -1 END AS label
    FROM embeddings
)
SELECT 'logistic' AS loss,
       CAST(5 AS BIGINT) AS iterations,
       CAST(0.5 AS DOUBLE) AS step_size,
       'Sketch' AS compression_type,
       CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
FROM m
""",
    tags=("ml", "train", "logistic", "pluggable-loss"),
)
def m10_logistic_sgd_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-compressed LOGISTIC SGD: ±1 labels = sign of the m03
    margin, trained with SolverConfig(loss='logistic') — every other
    moving part (numpy block cache, per-partition gradient, codec
    compress, merge-tree re-sketch, schedules, takeStep) is the
    loss-agnostic machinery m03/m04 use, which is the M1 pluggability
    claim made executable. Separability/accuracy pinned in
    tests/test_sgd.py::test_logistic_*."""
    from sketchmlflink_spark.config import SketchConfig, SolverConfig
    from sketchmlflink_spark.ml import sgd as SGD

    df = _training_df(spark, sf_dir)
    clf = df.select(
        "vec_id",
        "features",
        F.when(F.col("label") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("label"),
    )
    cfg = SolverConfig(iterations=5, step_size=0.5, loss="logistic")
    res = SGD.train(clf, cfg, SketchConfig(auto_fallback_nnz=0))
    assert res.epochs_run == 5
    balance = clf.agg(
        F.sum(F.when(F.col("label") == 1.0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("label") == -1.0, 1).otherwise(0)).cast("long").alias("n_neg"),
    )
    return balance.select(
        F.lit("logistic").alias("loss"),
        F.lit(5).cast("long").alias("iterations"),
        F.lit(0.5).alias("step_size"),
        F.lit("Sketch").alias("compression_type"),
        "n_pos",
        "n_neg",
    )
