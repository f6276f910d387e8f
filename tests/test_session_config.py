"""tune_for_session must fail loudly: a conf it cannot apply raises a
RuntimeWarning naming the key and is recorded in CONFIG_FAILURES, so a
silently missing RocksDB switch (on-heap state, the sf10 OOM) shows."""

from __future__ import annotations

import pytest

from sketchmlflink_spark import session

ROCKSDB_KEY = "spark.sql.streaming.stateStore.providerClass"


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


class _FakeSpark:
    def __init__(self, failing: set[str]):
        self.conf = _FailingConf(failing)


@pytest.mark.parametrize("key", [
    ROCKSDB_KEY,
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
])
def test_config_failure_warns_and_is_recorded(monkeypatch, key):
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
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
