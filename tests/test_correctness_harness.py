"""Mirror of the driver's correctness gate at sf0.001: every registered
query with an oracle must pass ``oracle_check.check`` as a hash match
(the driver's strictness; sf0.001 is inside every banded sketch's exact
regime, so no entry may fall back to its band here); rows-only queries
must at least execute and return a stable schema."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.oracle_check import check, duck_connection


def _queries():
    from sketchmlflink_spark.registry import all_queries

    return all_queries()


QUERIES = _queries()
WITH_ORACLE = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, duck, name):
    q = QUERIES[name]
    df = q.build(spark, SF_SMALL)
    kind, problems = check(q, df, duck)
    assert kind == "hash" and not problems, f"{name} ({kind}): " + "; ".join(problems[:10])


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    """Rows-only entries must be NON-EMPTY at sf0.001 — round 2's st07
    silently returned 0 windows after an input-encoding drift, and a
    `>= 0` check waved it through. Every rows-only query produces at
    least one row on the smallest fixture by construction (metrics rows,
    near-dup pairs on the seeded fixture, top-k per query point)."""
    q = QUERIES[name]
    df = q.build(spark, SF_SMALL)
    n = df.count()
    assert n >= 1, f"{name}: rows-only query returned an EMPTY frame"
    assert len(df.schema.fields) > 0


def test_st07_window_count_matches_batch(spark):
    """st07's window set must equal the batch distinct-hour count on the
    same data — the exact invariant whose violation (0 windows) exposed
    the round-2 ts corruption."""
    from pyspark.sql import functions as F

    from sketchmlflink_spark.sources.tables import load_table

    got = QUERIES["st07_stream_sketch_profile"].build(spark, SF_SMALL).count()
    want = (
        load_table(spark, SF_SMALL, "events")
        .select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .count()
    )
    assert got == want
