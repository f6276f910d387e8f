"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload sgd_wide_sketch --seed 1 --seconds 16 --trace 0

Workloads: sgd_wide_sketch and catalog_sf01 (the set in BENCHMARK.json),
and sgd_dense_exact, which runs only by hand (see perfbench/METRICS.md). It starts one Spark session on local[<cores>],
sets up the workload (several times; the median counts), runs its timed
region for ``--seconds``, checks every answer, prints a table of every
metric with its unit, and prints one JSON object as the last line of
standard output. ``--trace 1`` reports the per-layer metrics instead of
the end-to-end ones, writes the spans to ``.perfbench_out/`` and prints
the per-layer span table.

Everything the run writes (inputs, Spark scratch, temp files, traces)
stays under ``.perfbench_work/`` and ``.perfbench_out/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def _isolate(cores: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    repository before the JVM starts, and size Spark to this machine.
    Scratch left by an earlier run is removed first."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "spark-local", "inputs"):  # the program leaves checkpoints in tmp
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _table(rows: list[tuple[str, str, str]]) -> str:
    w = max(len(r[0]) for r in rows)
    return "\n".join(f"  {n:<{w}}  {v:>14}  {u}" for n, v, u in rows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import catalog_bench
    import sgd_bench

    benches = {**{name: sgd_bench for name in sgd_bench.WORKLOADS}, "catalog_sf01": catalog_bench}
    if args.workload not in benches:
        ap.error(f"unknown workload {args.workload!r}; known: {', '.join(benches)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cores = len(os.sched_getaffinity(0))
    _isolate(cores)
    sys.path.insert(0, ROOT)
    from measure import RssSampler, SparkStats, Tracer, calib_ms, median
    from sketchmlflink_spark.session import ensure_workers_can_import, get_spark, tune_for_session

    bench = benches[args.workload]
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), run_id)
    layers: dict[str, float] = {}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = tune_for_session(get_spark("perfbench"))
        t1 = time.perf_counter()
        with tracer.span("session.ensure_workers_can_import"):
            ensure_workers_can_import(spark)
        t2 = time.perf_counter()
        layers["session.start_ms"] = (t1 - t0) * 1e3
        layers["session.ship_pkg_ms"] = (t2 - t1) * 1e3
        try:
            spark.sparkContext.setLogLevel("ERROR")
            calib_ms(spark)  # the first Spark job of a session pays JVM warm-up
            calib_pre = calib_ms(spark)
            res = bench.run(args.workload, spark, args.seed, args.seconds, bool(args.trace),
                            tracer, SparkStats(spark), os.path.join(WORK, "inputs"))
            calib_post = calib_ms(spark)
        finally:
            _stop(spark)
    layers.update(res.layers)
    layers["machine.calib_ms"] = calib_pre
    layers["machine.calib_drift"] = calib_post / calib_pre
    layers["process.peak_rss_mb"] = rss.peak / 2**20

    e2e = {
        "setup_s": (t2 - t0) + median(res.setup_reps_s) + res.warmup_s,
        "op_ms": res.op_ms,
        "op_ms_tail": res.op_ms_tail,
        "items_per_s": median(res.throughput),
        "exchange_bytes_per_op": median(res.exchange_bytes),
        "rss_mb": rss.median_between(*res.timed) / 2**20,
    }
    if args.trace:
        base, traced = res.op_ms, res.traced_op_ms
        layers["trace.overhead_pct"] = 100.0 * (traced - base) / base if base and traced else 0.0
        path = os.path.join(OUT, f"trace_{run_id}.json")
        tracer.dump(path)
        print(f"spans written to {os.path.relpath(path, ROOT)}")
        print("per-layer spans (name, count, total ms, self ms):")
        for name, n, total, self_ms in sorted(tracer.table(), key=lambda r: -r[2]):
            print(f"  {name:<40} {n:>5} {total:>12.1f} {self_ms:>12.1f}")

    correct = res.failed == 0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} on local[{cores}]")
    for k, v in res.notes.items():
        print(f"  {k}: {v}")
    print(f"  setup repetitions (s): {', '.join(f'{s:.3f}' for s in res.setup_reps_s)}")
    print(f"  machine calibration (ms): {calib_pre:.1f} before, {calib_post:.1f} after")
    print(f"  error_rate: {res.failed}/{res.attempted}")
    for p in res.problems:
        print(f"  FAILED: {p}")
    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    metrics = {}
    for m in spec[section]:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    print(_table([(k, f"{v['value']:.6g}", v["unit"]) for k, v in metrics.items()]))
    print(f"correct: {correct}")
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
