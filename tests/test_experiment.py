"""CLI experiment runner (Test.scala parity): both arms end-to-end on a
tiny LibSVM fixture, CSV_Line schema, maxDim truncation, log append."""

from __future__ import annotations

import numpy as np
import pytest

from sketchmlflink_spark.experiment import build_arg_parser, format_log, run_experiment


@pytest.fixture(scope="module")
def libsvm_file(tmp_path_factory):
    """y = 2*x1 + 1*x2 (+noise-free), 200 rows, 1-based indices, with a
    comment line and a blank line (Test.scala:135-137 semantics)."""
    rng = np.random.default_rng(7)
    lines = ["# synthetic fixture", ""]
    for _ in range(200):
        x1, x2 = rng.uniform(-1, 1, 2)
        y = 2.0 * x1 + 1.0 * x2
        lines.append(f"{y:.6f} 1:{x1:.6f} 2:{x2:.6f}")
    p = tmp_path_factory.mktemp("libsvm") / "train.libsvm"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.mark.parametrize("arm", ["Flink", "Sketch"])
def test_experiment_both_arms(spark, libsvm_file, tmp_path, arm):
    out = tmp_path / f"log_{arm}.txt"
    args = build_arg_parser().parse_args(
        [
            "--inputTrain", libsvm_file,
            "--iterations", "30",
            "--stepSize", "0.5",
            "--sketchOrFlink", arm,
            "--outputPathSketch", str(out),
            "--outputPathFlink", str(out),
        ]
    )
    row = run_experiment(spark, args)
    assert row["sketch_or_flink"] == arm
    assert row["iterations"] == 30
    # trained on noise-free linear data → small held-out error
    assert row["avg_error"] < 0.35, row
    text = format_log(row)
    csv_line = [ln for ln in text.splitlines() if ln.startswith("CSV_Line:")][0]
    assert len(csv_line.split(":", 1)[1].split(",")) == 11  # Test.scala:72-77 schema
    out.write_text(text)
    assert "Avg Error" in out.read_text()


def test_experiment_maxdim_truncation(spark, libsvm_file):
    args = build_arg_parser().parse_args(
        ["--inputTrain", libsvm_file, "--iterations", "5", "--maxDim", "1", "--sketchOrFlink", "Flink"]
    )
    row = run_experiment(spark, args)
    assert row["max_dim"] == 1  # feature 2 dropped at parse time (Test:150)


def test_parallelism_governs_training_partitions(spark, libsvm_file, monkeypatch):
    """--parallelism must change actual execution (the reference's
    env.setParallelism axis, Test:24-25), not just the CSV record:
    the training frame reaching fit() carries exactly that many
    partitions (ADVICE r1: the sweep loop was a no-op before)."""
    from sketchmlflink_spark.ml.regression import MultipleLinearRegression

    seen = []
    orig_fit = MultipleLinearRegression.fit

    def spy_fit(self, df, dim=None, prepared=None):
        seen.append(df.rdd.getNumPartitions())
        return orig_fit(self, df, dim=dim, prepared=prepared)

    monkeypatch.setattr(MultipleLinearRegression, "fit", spy_fit)
    for par in (2, 5):
        args = build_arg_parser().parse_args(
            ["--inputTrain", libsvm_file, "--iterations", "1",
             "--parallelism", str(par), "--sketchOrFlink", "Flink"]
        )
        row = run_experiment(spark, args)
        assert row["parallelism"] == par
    assert seen == [2, 5], f"training partitions {seen}"


@pytest.mark.parametrize("arm", ["Flink", "Sketch"])
def test_repeated_index_in_a_row_sums(spark, tmp_path, arm):
    """A LibSVM row may repeat a feature index; the CLI trains on COO
    rows, where the repeat sums (FlinkML's SparseVector.fromCOO, which
    Test.scala:171 builds rows with). A densified frame would fail on
    the repeat with DUPLICATED_MAP_KEY instead. The run must match one
    on the same file with the repeat written as a single summed entry."""
    rng = np.random.default_rng(11)
    rows = []
    for _ in range(120):
        x1, x2 = rng.uniform(-1, 1, 2)
        rows.append((2.0 * x1 + 1.0 * x2, x1, x2))
    repeated = [f"{y:.6f} 1:{x1:.6f} 2:{x2:.6f}" for y, x1, x2 in rows]
    summed = list(repeated)
    repeated[0] = "2.5 1:0.5 1:0.25 2:1.0"  # y = 2*x1 + x2 at x1 = 0.75
    summed[0] = "2.5 1:0.75 2:1.0"
    got = {}
    for name, lines in (("repeated", repeated), ("summed", summed)):
        path = tmp_path / f"{name}.libsvm"
        path.write_text("\n".join(lines) + "\n")
        args = build_arg_parser().parse_args(
            ["--inputTrain", str(path), "--iterations", "30", "--stepSize", "0.5",
             "--sketchOrFlink", arm]
        )
        got[name] = run_experiment(spark, args)
    assert got["repeated"]["n_test"] == got["summed"]["n_test"]
    assert got["repeated"]["avg_error"] == pytest.approx(got["summed"]["avg_error"], abs=1e-6)
    assert got["repeated"]["avg_error"] < 0.35, got["repeated"]
