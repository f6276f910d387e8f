"""Parquet table loaders for the driver's TPC-H-ish star schema
(TESTDATA.md / FIXTURES.md §4).

Plain ``spark.read.parquet`` — Catalyst handles column pruning and
predicate pushdown into the scan, which is exactly what we want at
100 TB: no eager caching, no driver-side materialization here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-TZ ``TIMESTAMP`` regardless
    of the physical parquet encoding. Encodings seen across testdata
    generations:

    - TIMESTAMP(NANOS), which every session reads as a long (see
      ``session._SESSION_CONFS``) → floor to micros with exact integer
      division (double division loses precision > 2^53 ns);
    - ``timestamp[us]`` with isAdjustedToUTC=false → Spark TIMESTAMP_NTZ;
      cast to TIMESTAMP (session TZ is pinned UTC in session.py, so the
      wall-clock value is unchanged but unix_micros/watermarks work);
    - plain TIMESTAMP → pass through.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # TIMESTAMP(NANOS) encodings (older testdata gens) read as
        # longs; normalize_event_ts handles whatever type comes out.
        return normalize_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Expose tables as temp views so queries can also be written in
    ``spark.sql`` form (same names DuckDB pre-registers for the oracle)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
