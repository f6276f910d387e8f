"""Session setup is one decision. ``get_spark`` builds the finished
session: it ships no package zip and needs no ``tune_for_session``. A
session built elsewhere is prepared at the registry door, once. And
``tune_for_session`` must fail loudly: a conf it cannot apply raises a
RuntimeWarning naming the key and is recorded in CONFIG_FAILURES, so a
silently missing RocksDB switch (on-heap state, the sf10 OOM) shows."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from sketchmlflink_spark import registry, session

from tests.conftest import REPO_ROOT, SF_SMALL

ROCKSDB_KEY = "spark.sql.streaming.stateStore.providerClass"
NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


class _FailingConf:
    def __init__(self, failing: set[str]):
        self.failing = failing
        self.values = {"spark.sql.shuffle.partitions": "200"}

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        if key in self.failing:
            raise RuntimeError(f"cannot modify {key}")
        self.values[key] = value


class _FakeContext:
    def __init__(self, environment: dict[str, str]):
        self.environment = environment
        self.py_files: list[str] = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _FakeSpark:
    def __init__(self, failing: set[str], environment: dict[str, str] | None = None):
        self.conf = _FailingConf(failing)
        self.sparkContext = _FakeContext(environment or {})


@pytest.mark.parametrize("key", [
    ROCKSDB_KEY,
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
])
def test_config_failure_warns_and_is_recorded(monkeypatch, key):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")  # 200 shuffle partitions > 4 * 4: resized
    monkeypatch.setattr(session, "CONFIG_FAILURES", [])
    spark = _FakeSpark({key})
    with pytest.warns(RuntimeWarning, match=key.replace(".", r"\.")):
        assert session.tune_for_session(spark) is spark
    assert [k for k, _ in session.CONFIG_FAILURES] == [key]
    assert "cannot modify" in session.CONFIG_FAILURES[0][1]
    # the confs that could be set still were
    assert spark.conf.values["spark.sql.adaptive.enabled"] == "true"
    if key != ROCKSDB_KEY:
        assert spark.conf.values[ROCKSDB_KEY].endswith("RocksDBStateStoreProvider")


def test_get_spark_workers_do_not_reread_unchanged_zips(spark):
    """The work counter behind ``spark.python.daemon.module``: in a
    ``get_spark`` session no Python task re-reads an unchanged zip
    (stock PySpark re-parses pyspark.zip and the spark-core jar, about a
    dozen importers, on every task). The warm-up job overlaps its tasks
    so the second job runs on workers that have each run a task."""
    import time

    def zip_reads(rows):
        # nested, so it ships by value: the task imports nothing of the repo
        import importlib
        import os
        import zipimport

        reads = []
        stock_read = zipimport._read_directory

        def spy(archive):
            reads.append(archive)
            return stock_read(archive)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        method = zipimport.zipimporter.invalidate_caches
        yield os.path.basename(method.__code__.co_filename), len(reads)

    sc = spark.sparkContext
    tasks = 2
    sc.parallelize(range(tasks), tasks).foreachPartition(lambda _: time.sleep(0.5))
    reports = sc.parallelize(range(tasks), tasks).mapPartitions(zip_reads).collect()
    assert reports == [("worker_daemon.py", 0)] * tasks


@pytest.mark.parametrize("worker_path, shipped", [
    (None, 1),
    (str(session._PKG_DIR.parent), 0),
])
def test_registry_door_prepares_a_foreign_session_once(monkeypatch, worker_path, shipped):
    """Every query reaches its builder through ``registry.register``'s
    build wrapper: it sets the session confs before the builder runs
    and ships the package zip once per SparkContext, and not at all
    when the workers' PYTHONPATH already holds the package's parent."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setattr(registry, "_REGISTRY", {})
    seen = []

    @registry.register("door_probe")
    def door_probe(spark, sf_dir):
        seen.append((dict(spark.conf.values), len(spark.sparkContext.py_files)))
        return sf_dir

    env = {} if worker_path is None else {"PYTHONPATH": os.pathsep.join(["/elsewhere", worker_path])}
    spark = _FakeSpark(set(), env)
    build = registry._REGISTRY["door_probe"].build
    assert [build(spark, "sf"), build(spark, "sf")] == ["sf", "sf"]
    assert len(spark.sparkContext.py_files) == shipped
    for confs, shipped_before_body in seen:
        assert shipped_before_body == shipped
        assert confs[ROCKSDB_KEY].endswith("RocksDBStateStoreProvider")
        assert confs[NANOS_KEY] == "true"
        assert confs["spark.sql.session.timeZone"] == "UTC"
        assert confs["spark.sql.shuffle.partitions"] == "4"


def test_get_spark_session_ships_no_zip_and_needs_no_tuning(spark):
    """A ``get_spark`` session is finished when built: the RocksDB state
    store and nanosAsLong are builder confs, and a Python-worker entry
    plus an SGD epoch run with workers importing the package from the
    checkout, so no package zip is shipped."""
    from sketchmlflink_spark.config import SketchConfig, SolverConfig
    from sketchmlflink_spark.ml import sgd

    built = spark.sparkContext.getConf()
    assert built.get(ROCKSDB_KEY).endswith("RocksDBStateStoreProvider")
    assert built.get(NANOS_KEY) == "true"

    assert registry.all_queries()["mm02_media_features"].build(spark, SF_SMALL).count() > 0
    df = spark.createDataFrame(
        [(float(i % 5), [float(i % 3), 1.0]) for i in range(64)],
        "label double, features array<double>",
    ).repartition(2)
    res = sgd.train(df, SolverConfig(iterations=1, step_size=0.1), SketchConfig(compression_type="Sketch"))
    assert len(res.weights) == 2

    assert [f for f in spark.sparkContext.listFiles if "sketchmlflink_spark_pkg_" in f] == []

    def sketch_file(_):
        import sketchmlflink_spark.ml.sketch as m

        yield m.__file__

    files = spark.sparkContext.parallelize([0], 1).mapPartitions(sketch_file).collect()
    assert files == [str(session._PKG_DIR / "ml" / "sketch.py")]


def test_foreign_session_runs_python_worker_entries(tmp_path):
    """The driver harness's path: a plain session built in a process
    whose PYTHONPATH and cwd do not hold the repo reaches the Python-
    worker entries through ``__spark_entry__.queries()``; the registry
    door ships the package, so no worker raises ModuleNotFoundError."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from pyspark.sql import SparkSession
        import __spark_entry__ as E

        spark = SparkSession.builder.master("local[2]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        fns = E.queries()
        for name in ("mm02_media_features", "m03_sgd_exact_metrics"):
            print(name, len(fns[name](spark, {SF_SMALL!r}).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=600,
    )
    out = proc.stdout + proc.stderr
    assert "ModuleNotFoundError" not in out, out[-4000:]
    assert proc.returncode == 0, out[-4000:]
    assert "mm02_media_features " in proc.stdout and "m03_sgd_exact_metrics " in proc.stdout


def _conf_writes(path: str) -> set[str]:
    """The enclosing function of every ``<x>.conf.set`` or
    ``<x>.conf.unset`` call in ``path`` ("" at module level)."""
    found = set()

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            f = getattr(child, "func", None)
            if (
                isinstance(child, ast.Call)
                and isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                found.add(func)
            visit(child, func)

    with open(path) as fh:
        visit(ast.parse(fh.read(), path), "")
    return found


def test_only_session_and_the_replay_partition_scope_write_confs():
    """A query sets a write's behaviour with a per-write option and a
    session-wide setting in session._SESSION_CONFS; the streaming replay
    driver's partition scope is the one session-conf write elsewhere."""
    pkg = os.path.join(REPO_ROOT, "sketchmlflink_spark")
    writers = set()
    for dp, _, fs in os.walk(pkg):
        for f in fs:
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                rel = os.path.relpath(path, pkg)
                writers |= {(rel, func) for func in _conf_writes(path)}
    assert {w for w in writers if w[0] != "session.py"} == {
        (os.path.join("streaming", "pipelines.py"), "_apply_stream_partitions")
    }
