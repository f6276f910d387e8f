"""Regression tests for the signed-zero policy (VERDICT r5 item 1) and
the one answer check in ``tests/oracle_check.py`` (item 2).

The failure class: DuckDB's ``round`` preserves −0.0 where Spark's
``F.round`` does not, so a pre-round value of ≈ −1e-7 produces a zero
whose SIGN differs across engines — equal under ``math.isclose`` (every
pre-round-6 local gate), bit-different under the driver's canonical
value hash. These tests pin (a) that ``zround``/its oracle twin
normalize both engines to +0.0, (b) that ``check`` sees the class that
the band compare it falls back to is blind to, and (c) what
``value_hash`` does and does not see.
"""

from __future__ import annotations

import decimal
import math
from types import SimpleNamespace

import duckdb
import pytest
from pyspark.sql.types import DecimalType, DoubleType, LongType, StringType, StructField, StructType

from tests.oracle_check import _repr_cell, check, value_hash


def _entry(sql: str, band: float | None = None):
    return SimpleNamespace(oracle=sql, band=band)


def _frame(fields, rows):
    """The three things ``value_hash`` reads from a DataFrame."""
    schema = StructType([StructField(n, t) for n, t in fields])
    return SimpleNamespace(schema=schema, columns=schema.names, collect=lambda: rows)


def test_duckdb_round_preserves_negative_zero_spark_does_not(spark):
    """The engine divergence this policy exists for — if either engine
    changes behavior, the policy (and this test) should be revisited."""
    from pyspark.sql import functions as F

    con = duckdb.connect()
    (duck_val,) = con.execute("SELECT round(-1e-7, 4)").fetchone()
    spark_val = (
        spark.range(1).select(F.round(F.lit(-1e-7), 4).alias("v")).first()["v"]
    )
    assert duck_val == 0.0 and spark_val == 0.0  # numerically equal...
    assert repr(duck_val) == "-0.0"  # ...but DuckDB keeps the sign
    assert repr(spark_val) == "0.0"  # ...and Spark drops it


def test_zround_and_oracle_twin_normalize_to_positive_zero(spark):
    from pyspark.sql import functions as F

    from sketchmlflink_spark.functions import zround

    row = spark.range(1).select(
        zround(F.lit(-1e-7), 4).alias("z"),
        zround(F.lit(-0.12344999), 4).alias("neg"),
        zround(F.lit(0.12344999), 4).alias("pos"),
    ).first()
    assert repr(row["z"]) == "0.0"
    assert row["neg"] == -0.1234 and row["pos"] == 0.1234  # rounding intact

    con = duckdb.connect()
    o = con.execute(
        "SELECT round(-1e-7, 4) + 0.0 AS z,"
        " round(CAST(-0.12344999 AS DOUBLE), 4) + 0.0 AS neg"
    ).fetchone()
    assert repr(o[0]) == "0.0"
    assert o[1] == -0.1234


def test_strict_comparator_sees_signed_zero_isclose_does_not(spark):
    """The band compare (isclose) passes a -0.0/+0.0 split; ``check``
    reds it for an entry with no band — exactly the t12 driver gap."""
    df = spark.createDataFrame([(1, 0.0)], "id long, v double")
    con = duckdb.connect()
    sql = "SELECT CAST(1 AS BIGINT) AS id, round(-1e-7, 4) AS v"
    assert check(_entry(sql, band=0.02), df, con) == ("band", [])
    kind, strict = check(_entry(sql), df, con)
    assert kind == "hash" and strict and "-0.0" in strict[0]


def test_strict_comparator_sees_type_rendering_and_ulp_drift(spark):
    con = duckdb.connect()
    # DATE vs midnight TIMESTAMP: isoformat differs (the p08-class slip)
    df_date = spark.createDataFrame([("2024-01-01",)], "d string").selectExpr(
        "CAST(d AS DATE) AS d"
    )
    sql_ts = "SELECT TIMESTAMP '2024-01-01 00:00:00' AS d"
    assert check(_entry(sql_ts), df_date, con)[1]
    # double vs DECIMAL rendering (the sk04-class slip)
    df_f = spark.createDataFrame([(116.0,)], "x double")
    assert check(_entry("SELECT round(29 * 4.0, 2) AS x"), df_f, con)[1]
    assert check(_entry("SELECT CAST(116 AS DOUBLE) AS x"), df_f, con) == ("hash", [])
    # 1-ulp float drift renders differently under repr (what check
    # compares) while staying inside isclose's rel_tol
    base = 0.1234
    drifted = math.nextafter(base, 1.0)
    assert _repr_cell(base) != _repr_cell(drifted)
    assert math.isclose(base, drifted, rel_tol=1e-9, abs_tol=1e-9)


def test_check_falls_back_to_the_band_only_for_a_band_entry(spark):
    df = spark.createDataFrame([(math.nextafter(0.1234, 1.0),)], "v double")
    con = duckdb.connect()
    sql = "SELECT CAST(0.1234 AS DOUBLE) AS v"
    kind, problems = check(_entry(sql), df, con)
    assert kind == "hash" and problems
    assert check(_entry(sql, band=0.02), df, con) == ("band", [])


def test_value_hash_ignores_row_and_column_order():
    fields = [("k", LongType()), ("x", DoubleType()), ("s", StringType())]
    rows = [(1, 0.5, "a"), (2, -1.0, None)]
    permuted = _frame(fields[::-1], [r[::-1] for r in rows[::-1]])
    assert value_hash(permuted) == value_hash(_frame(fields, rows))


def test_value_hash_sees_signed_zero_and_column_type_not_decimal_scale():
    x = [("x", DoubleType())]
    assert value_hash(_frame(x, [(0.0,)])) != value_hash(_frame(x, [(-0.0,)]))
    d = [("d", DecimalType(10, 2))]
    assert value_hash(_frame(d, [(decimal.Decimal("116.00"),)])) == value_hash(
        _frame(d, [(decimal.Decimal("116"),)])
    )
    as_int = _frame([("k", LongType())], [(7,)])
    assert value_hash(as_int) != value_hash(_frame([("k", StringType())], [("7",)]))


def test_repr_cell_canonical_forms():
    import datetime

    assert _repr_cell(-0.0) == "-0.0" != _repr_cell(0.0)
    assert _repr_cell(decimal.Decimal("116.00")) == _repr_cell(
        decimal.Decimal("116")
    )  # trailing zeros normalized
    assert _repr_cell(datetime.date(2024, 1, 1)) != _repr_cell(
        datetime.datetime(2024, 1, 1)
    )
    assert _repr_cell(None) != _repr_cell("None")  # NULL is not the string
    assert _repr_cell([1.0, -0.0]) == "[1.0,-0.0]"
    assert _repr_cell({"b": 1, "a": -0.0}) == "{a=-0.0,b=1}"  # keys sorted


@pytest.mark.parametrize(
    "name",
    [
        "t12_dsir_importance",
        "p15_dsir_resample",
        "m01_linear_predict",
        "s07_embedding_dim_stats",
        "s13_mmr_diversified_topk",
    ],
)
def test_no_negative_zero_in_normalized_query_outputs(spark, name):
    """End-to-end: every float cell of the zround-normalized queries
    comes back bit-positive (or NULL) at sf0.001 — the property the
    driver hash needs, asserted on the engine side alone."""
    import struct

    from sketchmlflink_spark.registry import all_queries

    df = all_queries()[name].build(spark, "/root/testdata/sf0.001")
    for row in df.collect():
        for col, v in row.asDict().items():
            if isinstance(v, float) and v == 0.0:
                assert struct.pack(">d", v)[0] & 0x80 == 0, (
                    f"{name}.{col} emitted -0.0"
                )
