"""SparkSession factory with scale-aware defaults, and the one place a
session is prepared for the package.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads);
the same settings are what we'd ship to a 1000-executor cluster: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for every
Python<->JVM crossing, and shuffle partitions sized to the environment
instead of Spark's legacy 200.

A session is set up once, before any query runs. ``get_spark`` builds
it finished. A session built elsewhere (the driver harness passes its
own to ``entry``) is prepared by ``tune_for_session``, which
``registry.register``'s build wrapper calls before every builder: it
sets the same runtime confs and ships the package to the Python
workers. No other module writes a session conf: a query sets a write's
behaviour with a per-write option (``.option(...)`` on the writer) and a
session-wide setting here, in ``_SESSION_CONFS``. The one exception is
the streaming replay driver's partition scope
(``streaming.pipelines._apply_stream_partitions``), which sets
``spark.sql.shuffle.partitions`` for one replay and restores it after.
``tests/test_session_config.py`` checks the rule with an AST scan.

Python workers start from ``worker_daemon`` instead of the stock
``pyspark.daemon``. Every Python task calls
``importlib.invalidate_caches()``, which on Python 3.10-3.12 makes each
zip importer re-parse its whole archive: pyspark.zip and 9 of its
sub-packages (1,328 entries, ~14 ms each) and the spark-core jar and
its ``org/`` prefix (5,359 entries, ~57 ms each, no ``.py`` inside).
That was 0.26-0.29 s of every task on 4 local cores; the daemon's
importers re-read an archive only when it changed (~0.3 ms a task).
"""

from __future__ import annotations

import os
import pathlib
import warnings

from pyspark.sql import SparkSession

# (config key, error) for every conf ``tune_for_session`` could not apply,
# oldest first; each failure also raises a RuntimeWarning naming the key
CONFIG_FAILURES: list[tuple[str, str]] = []

_PKG_DIR = pathlib.Path(__file__).resolve().parent

# Runtime SQL confs of every session: ``get_spark`` builds them in and
# ``tune_for_session`` sets them on a session built elsewhere.
_SESSION_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts was TIMESTAMP(NANOS) in older testdata generations: read
    # it as a long, which sources.tables.normalize_event_ts floors to
    # micros (batch and streaming alike)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming state must not live on the JVM heap. The default
    # HDFSBackedStateStoreProvider keeps every key's state in an on-heap
    # map, so state size is capped by executor heap: the round-7 sf10
    # probe OOM'd an 8 GiB heap on st04's session windows (9.5M sessions
    # in one micro-batch) even in an isolated session. RocksDB keeps
    # state off-heap/on-disk with a bounded block cache — the same
    # switch a 100-TB/day cluster job makes — and the identical probe
    # completes in ~38 s with identical results (state backend is
    # semantics-neutral; the full oracle sweep re-verified after the
    # switch).
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # Commit-path tunings (optimization guide §1.2: per-task work), both
    # standard for production RocksDB state: changelog checkpointing
    # appends a small changelog per commit instead of uploading a full
    # snapshot (snapshots move to background maintenance) — the r11
    # phase probe measured commit time as the dominant micro-batch cost;
    # trackTotalNumberOfRows=false drops the extra read-before-write
    # RocksDB does per put/delete just to maintain the numRowsTotal
    # metric (semantics-neutral, metric-only).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
    # List up to 4096 paths with the driver's listing pool instead of a
    # distributed listing job (default threshold: 32). That job's
    # scheduling round costs ~1-2 s here, while the pool lists hundreds
    # to thousands of local dirs in milliseconds: st15's read-back of
    # its 720 (epoch, hour) dirs took 2.1 s → 0.85 s, best of 3. It
    # changes how files are listed, never which rows are read. An object
    # store with slow per-prefix listing would want it lower.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


def get_spark(app_name: str = "sketchmlflink-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or return) the package's finished session: it needs no
    ``tune_for_session`` and no shipped package.

    Two static confs start every Python worker from ``worker_daemon``,
    which stops each task from re-parsing pyspark.zip (~14 ms per
    importer, 10 importers) and the spark-core jar (~57 ms per importer,
    2 importers) on Python 3.10-3.12, 0.26-0.29 s per task on 4 local
    cores. ``spark.executorEnv.PYTHONPATH`` puts the package's parent
    directory on the workers' path, so the daemon imports the package
    from the checkout before forking and every task finds it there. A
    daemon that cannot start fails every Python task. Static confs do
    nothing on a session that already exists, so a session built
    elsewhere keeps the stock daemon.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "sketchmlflink_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", str(_PKG_DIR.parent))
    )
    for key, value in _SESSION_CONFS.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Prepare a session we didn't build (the driver harness hands us
    its own SparkSession in ``entry``): set the runtime confs
    ``get_spark`` builds in, then ``ensure_workers_can_import``.
    ``registry.register``'s build wrapper calls it before every builder;
    on a ``get_spark`` session it changes nothing. A conf that cannot be
    applied warns and is appended to ``CONFIG_FAILURES``."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # UTC so date_trunc/date_format on instant-typed columns agree with
    # the (naive-timestamp) DuckDB oracle regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # right-size shuffle/state partitioning to the machine instead of
    # the legacy 200 (matters most for streaming: 200 partitions = 200
    # state stores per stateful op); a runtime conf, safe to set here
    key = "spark.sql.shuffle.partitions"
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        if int(spark.conf.get(key)) > 4 * cpus:
            spark.conf.set(key, str(cpus))
    except Exception as exc:
        _config_failed(key, exc)
    for key, value in _SESSION_CONFS.items():
        _try_set(spark, key, value)
    ensure_workers_can_import(spark)
    return spark


def _config_failed(key: str, exc: Exception) -> None:
    CONFIG_FAILURES.append((key, repr(exc)))
    warnings.warn(f"tune_for_session could not apply {key}: {exc!r}", RuntimeWarning)


def _try_set(spark: SparkSession, key: str, value: str) -> None:
    try:
        spark.conf.set(key, value)
    except Exception as exc:
        _config_failed(key, exc)


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make the package importable on Python workers, once per
    SparkContext, so functions serialized by reference (mapInPandas
    bodies, the sketch codec) resolve on executors. Returns at once when
    the workers' ``PYTHONPATH`` already holds the package's parent
    directory, as in every ``get_spark`` session. Otherwise (a session
    built elsewhere) it ships the package as an ``addPyFile`` zip."""
    sc = spark.sparkContext
    if getattr(sc, "_sketchml_pkg_added", False):
        return
    if str(_PKG_DIR.parent) in sc.environment.get("PYTHONPATH", "").split(os.pathsep):
        return  # workers import the package from the checkout
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = _PKG_DIR
    # Content-hash file name + write-then-atomic-rename: concurrent
    # driver processes on one box (a sweep beside hash_catalog
    # subprocesses) share one zip per package version instead of leaking
    # a per-PID file each (ADVICE r10 item 4), and a process racing a
    # rewrite against addPyFile still never ships a truncated zip —
    # os.replace is atomic and same-content writes are byte-identical.
    sources = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.sha256()
    for p in sources:
        h.update(str(p.relative_to(pkg_dir.parent)).encode())
        h.update(p.read_bytes())
    zpath = os.path.join(
        tempfile.gettempdir(), f"sketchmlflink_spark_pkg_{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp_path = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp_path, "w") as z:
            for p in sources:
                z.write(p, p.relative_to(pkg_dir.parent))
        os.replace(tmp_path, zpath)
    sc.addPyFile(zpath)
    sc._sketchml_pkg_added = True
