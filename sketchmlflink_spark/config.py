"""Engine configuration.

The reference keeps a process-global mutable ``SketchConfig``
(SketchConfig.scala:12-18) that executor closures write into
(SketchGradientDescent.scala:200,210). That only works under Flink's
slot-per-JVM layout; in Spark it would silently break. Here config is an
immutable dataclass threaded explicitly through the API (SURVEY.md §1.1,
§7.4).
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class SketchConfig:
    """Sketch-compression parameters.

    The reference's fixed MLConf parameters (bins, groups, MinMaxSketch
    rows and col ratio; SketchGradientDescent.scala:340-348) and the
    8-bit delta key format are constants of the codec (ml/sketch.py).
    """

    compression_type: str = "Sketch"  # {"Sketch", "None"} — Test.scala:30
    # Below this nnz the quantile-splits + grid overhead exceeds exact
    # float64 values, so ship exact (SketchML targets very wide sparse
    # gradients; tiny ones would *inflate*). 0 = always sketch.
    auto_fallback_nnz: int = 512

    def with_(self, **kw) -> "SketchConfig":
        return replace(self, **kw)


@dataclass(frozen=True)
class SolverConfig:
    """SGD solver parameters with FlinkML defaults
    (SketchMultipleLinearRegression.scala:89-103, FMLR:46).
    """

    iterations: int = 10
    step_size: float = 0.1
    convergence_threshold: float | None = None
    # Pluggable loss over the linear prediction (the reference's M1
    # plugin point, SURVEY.md §2.5 — squared loss is its shipped
    # instance): {"squared", "logistic"} (logistic expects ±1 labels).
    loss: str = "squared"
    regularization: str = "none"  # {"none", "l1", "l2"}
    reg_lambda: float = 0.0
    # FlinkML LearningRateMethod parity (FlinkMultipleLinearRegression
    # .scala:116-119,162-166; calculateLearningRate FlinkGradientDescent
    # .scala:242-245): {"inv_sqrt" (Default), "constant", "bottou",
    # "inv_scaling", "xu"}
    lr_schedule: str = "inv_sqrt"  # eta_t = eta0 / sqrt(t) (FMLR:46)
    lr_decay: float = 0.5  # InvScaling / Xu decay exponent
    # Bottou's optimalInit; None → FlinkML's recommended 1/(eta0·lambda)
    bottou_optimal_init: float | None = None
    # Aggregation strategy parity with SketchConfig.ReduceOurReduceGroup
    # (SketchConfig.scala:17): "reduce" = tree aggregation with
    # re-sketch-per-combine; "reduce_group" = single-reducer sum.
    aggregation: str = "reduce"
    seed: int = 42
