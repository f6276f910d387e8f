"""CLI experiment runner — the reference's ``Test.scala`` main
re-expressed for Spark. A user of the reference runs

    java -jar SketchMLFlink.jar --inputTrain data.libsvm --parallelism 4 \
        --iterations 5 --stepSize 0.5 --compressionType Sketch \
        --threshold 0.001 --sketchOrFlink Sketch --outputPathSketch out.txt

(README.md:15, Test.scala:21); here the same experiment is

    python -m sketchmlflink_spark.experiment --inputTrain data.libsvm \
        --iterations 5 --stepSize 0.5 --compressionType Sketch \
        --threshold 0.001 --sketchOrFlink Sketch --outputPathSketch out.txt

Semantics mirrored from Test.scala:
  * LibSVM ingest with comment-strip / 1-based shift / --maxDim
    truncation / empty-row drop + dimension inference (Test:126-176).
  * 75/25 random train/test split (Test:39).
  * Arm select via --sketchOrFlink: "Sketch" = sketch-compressed SGD
    (SketchMultipleLinearRegression.scala), "Flink" = exact arm
    (FlinkMultipleLinearRegression.scala). --compressionType None runs
    the sketch code path with identity compression (README.md:18).
  * --threshold is parsed but NOT applied by default — the reference
    wires it commented-out (Test:47, Test:86); pass --applyThreshold
    to actually enable convergence-based early stopping.
  * Metrics appended to the output path as human-readable lines plus a
    machine-readable ``CSV_Line:`` record with the reference's schema
    [sketchOrFlink, parallelism, iterations, stepSize, compressionType,
    inputFile, maxDim, totalTime, timePerEpoch, absoluteError,
    avgError] (Test:56-77, Test:118).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sketchmlflink_spark.experiment",
        description="SketchML linear-regression experiment (Test.scala parity)",
    )
    p.add_argument("--inputTrain", required=True, help="LibSVM input path (Test:38)")
    p.add_argument("--parallelism", type=int, default=0,
                   help="shuffle partitions; 0 = session default (Test:24-25)")
    p.add_argument("--iterations", type=int, default=10, help="SMLR:94 default")
    p.add_argument("--stepSize", type=float, default=0.1, help="SMLR:90 default")
    p.add_argument("--compressionType", choices=["Sketch", "None"], default="Sketch",
                   help="Sketch = full codec; None = identity (README.md:18)")
    p.add_argument("--threshold", type=float, default=None,
                   help="convergence threshold (parsed; inactive unless --applyThreshold, Test:47)")
    p.add_argument("--applyThreshold", action="store_true",
                   help="actually enable early stopping (reference has it wired but commented out)")
    p.add_argument("--sketchOrFlink", choices=["Sketch", "Flink"], default="Sketch",
                   help="arm select (Test:43, Test:82)")
    p.add_argument("--outputPathSketch", default=None, help="metrics log, sketch arm (Test:32)")
    p.add_argument("--outputPathFlink", default=None, help="metrics log, exact arm (Test:33)")
    p.add_argument("--maxDim", type=int, default=-1, help="feature-index truncation (Test:150)")
    p.add_argument("--seed", type=int, default=42, help="split/init seed (ours; reference is unseeded)")
    return p


def run_experiment(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Ingest → split → fit → evaluate → one metrics dict (CSV_Line schema)."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression
    from sketchmlflink_spark.sources.libsvm import read_libsvm

    max_dim = args.maxDim if args.maxDim and args.maxDim > 0 else None
    # cache=True: the parsed COO frame is materialized during the dim
    # agg and reused by the blockify + eval scans — one text parse for
    # the whole experiment instead of three (guide §1.2); unpersisted
    # before returning. It trains as COO rows, never densified, like
    # Test.scala's SparseVector.fromCOO rows (Test:171): a repeated
    # index in a row sums, and a wide --maxDim costs O(nnz) per row.
    data = read_libsvm(spark, args.inputTrain, max_dim=max_dim, cache=True)
    features = data.df

    # --parallelism sets the training frame's partition count P, like the
    # reference's env.setParallelism (Test:24-25): the SGD loop builds
    # one gradient per partition, so P is the number of partition
    # gradients, i.e. the leaves of the merge tree whose shape sets the
    # shipped bytes and the sketch error. An epoch runs them in
    # sgd._tree_groups(P) (about sqrt(P)) tasks, not P, so P does not
    # set how many tasks run at once (ml/sgd.py; that trade rests on the
    # per-stage overhead it saves, about 0.2 s an epoch on 4 cores since
    # the worker daemon stopped each task re-reading Spark's zips, down
    # from 0.4-0.6 s). The session's shuffle partitions stay as they
    # are: the split does not shuffle and the evaluation is a global
    # aggregate, so no stage after the repartition reads them.
    if args.parallelism and args.parallelism > 0:
        features = features.repartition(args.parallelism)

    # arm → compression mapping (SURVEY.md §0): the exact/Flink arm is the
    # same driver loop with identity compression and no codec loss.
    compression = args.compressionType if args.sketchOrFlink == "Sketch" else "None"
    mlr = MultipleLinearRegression(
        iterations=args.iterations,
        step_size=args.stepSize,
        compression=compression,
        convergence_threshold=(args.threshold if args.applyThreshold else None),
        seed=args.seed,
    )
    try:
        report = mlr.fit_evaluate_report(
            spark,
            features,
            input_file=args.inputTrain,
            max_dim=args.maxDim,
            dim=data.dim,
        )
        row = report.first().asDict()
    finally:
        # unpersist even when fit/evaluate raises: the MEMORY_AND_DISK-
        # cached parsed COO frame would otherwise pin executor memory
        # for the session lifetime (ADVICE r11)
        data.df.unpersist()
    row["sketch_or_flink"] = args.sketchOrFlink
    if args.parallelism and args.parallelism > 0:
        # report the requested parallelism like Test.scala's CSV does
        # (Test:73), not the session default
        row["parallelism"] = args.parallelism
    return row


def format_log(row: dict) -> str:
    """Human lines + CSV_Line record, matching Test.scala:64-77's shape."""
    csv = ",".join(
        str(row[k])
        for k in (
            "sketch_or_flink", "parallelism", "iterations", "step_size",
            "compression_type", "input_file", "max_dim", "total_time_ms",
            "time_per_epoch_ms", "absolute_error", "avg_error",
        )
    )
    return (
        f"=== {row['sketch_or_flink']} arm: iterations={row['iterations']} "
        f"stepSize={row['step_size']} compression={row['compression_type']} ===\n"
        f"Total Time: {row['total_time_ms']} ms\n"
        f"Time per epoch: {row['time_per_epoch_ms']} ms\n"
        f"Absolute Error Sum: {row['absolute_error']}\n"
        f"Avg Error: {row['avg_error']}\n"
        f"CSV_Line:{csv}\n"
    )


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    from sketchmlflink_spark.session import get_spark

    spark = get_spark("sketchmlflink-experiment")
    row = run_experiment(spark, args)  # applies --parallelism itself
    text = format_log(row)
    out = args.outputPathSketch if args.sketchOrFlink == "Sketch" else args.outputPathFlink
    if out:
        with open(out, "a") as fh:  # append, like the reference's PrintWriter (Test:32-36)
            fh.write(text)
    sys.stdout.write(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
