"""Sink layout proofs: the write-time decisions (partitioning,
bucketing, sorting) must be visible to the read-side planner — that's
the whole point of paying for them at write time.

Each test asserts on the PHYSICAL PLAN, not just results: partition
pruning shows up as PartitionFilters, bucketing as the absence of
Exchange/Sort under a sort-merge join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sketchmlflink_spark.sources.sinks import (
    coalesce_small_output,
    read_table,
    write_bucketed,
    write_partitioned,
)
from sketchmlflink_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_partitioned_write_prunes_directories(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, SF_DIR, "events")
    write_partitioned(ev, out, partition_cols=["event_type"], sort_cols=["ts"])

    back = spark.read.parquet(out)
    clicks = back.where(F.col("event_type") == "click")
    plan = _formatted_plan(clicks)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    # pruning is real: only the click directory's rows are read
    assert clicks.count() == ev.where(F.col("event_type") == "click").count()
    # round-trip preserves the full table
    assert back.count() == ev.count()


def test_bucketed_join_has_no_shuffle_and_no_sort(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4, str(tmp_path / "b_orders"), sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 4, str(tmp_path / "b_lineitem"), sort_cols=["o_orderkey"])
    try:
        bo, bl = read_table(spark, "b_orders"), read_table(spark, "b_lineitem")
        with _forced_smj(spark):
            joined = bo.join(bl, "o_orderkey").select("o_orderkey", "o_totalprice", "l_quantity")
            plan = _formatted_plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not re-shuffle"
            assert " Sort (" not in plan, "sortBy at write time must skip the read-side sort"
            # and it still computes the right thing
            expect = orders.join(lineitem, "o_orderkey").count()
            assert joined.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_unbucketed_same_join_does_shuffle(spark):
    """Control: the identical join on plain parquet reads shuffles both
    sides — proving the previous test's Exchange-free plan came from
    the bucketing metadata, not from some session setting."""
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    with _forced_smj(spark):
        plan = _formatted_plan(orders.join(lineitem, "o_orderkey"))
        assert "Exchange" in plan


def test_coalesce_small_output_writes_n_files(spark, tmp_path):
    out = str(tmp_path / "small")
    ev = load_table(spark, SF_DIR, "events").where(F.col("event_type") == "error")
    coalesce_small_output(ev, 1).write.mode("overwrite").parquet(out)
    files = [p for p in __import__("os").listdir(out) if p.endswith(".parquet")]
    assert len(files) == 1


class _forced_smj:
    """Temporarily disable broadcast + AQE so the planner must pick a
    sort-merge join (the strategy bucketing optimizes)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = {
            k: self.spark.conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
            )
        }
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        # since SPARK-28867 the scan only advertises the write-time sort
        # order under this conf (reading one file per bucket per task);
        # our writer guarantees one file per bucket, so it's safe here
        self.spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)


def test_p04_writes_lang_partitioned_layout(spark):
    """The curated sink must produce a lang=<value> hive-partitioned
    directory tree (partition pruning depends on the physical layout,
    not just the logical result)."""
    import os
    from urllib.parse import urlparse

    from sketchmlflink_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    built = all_queries()["p04_curated_sink_roundtrip"].build(spark, SF_SMALL)
    built.count()
    # the sink directory is the parent of the lang=<value> dirs it reads
    files = [urlparse(f).path for f in built.inputFiles()]
    out_dir = os.path.dirname(os.path.dirname(files[0]))
    parts = sorted(d for d in os.listdir(out_dir) if d.startswith("lang="))
    assert len(parts) >= 2, f"expected lang=* partition dirs, got {os.listdir(out_dir)}"
    for p in parts:
        files = os.listdir(os.path.join(out_dir, p))
        assert any(f.endswith(".parquet") for f in files), (p, files)


def test_max_records_per_file_greedy_fill(spark, tmp_path):
    """p10's oracle rests on the writer's greedy-fill contract: with
    maxRecordsPerFile=T a partition of R rows lands in ceil(R/T) files,
    full files holding EXACTLY T rows — not balanced bins. Pin it."""
    d = str(tmp_path / "greedy")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type"
    )
    target = 50
    (
        ev.repartition("event_type")
        .write.option("maxRecordsPerFile", target)
        .partitionBy("event_type")
        .parquet(d)
    )
    per_file = (
        spark.read.parquet(d)
        .withColumn("file", F.input_file_name())
        .groupBy("event_type", "file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in per_file:
        by_type[r["event_type"]].append(r["n"])
    totals = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type, "no files written"
    for et, counts in by_type.items():
        rows = totals[et]
        assert len(counts) == -(-rows // target), (et, counts)
        assert sorted(counts, reverse=True)[:-1] == [target] * (len(counts) - 1), (et, counts)
        assert sum(counts) == rows


def test_p10_compaction_conserves_and_packs(spark):
    """End-to-end p10 on the small fixture: row conservation per
    partition and the file count the oracle predicts."""
    from sketchmlflink_spark.operators.pipeline import (
        P10_TARGET_ROWS,
        p10_compact_small_files,
    )

    rows = {r["event_type"]: r for r in p10_compact_small_files(spark, "/root/testdata/sf0.001").collect()}
    expect = {
        r["event_type"]: r["n"]
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(rows) == set(expect)
    for et, r in rows.items():
        n = expect[et]
        assert r["n_rows"] == n
        assert r["n_files"] == -(-n // P10_TARGET_ROWS)
        assert r["max_rows_per_file"] == min(n, P10_TARGET_ROWS)
