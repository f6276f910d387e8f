"""The one place that renders and compares answers: the local mirror of
the driver's correctness gate, used by tier-1, the oracle sweep, the
skew bench and the catalog hash.

``canonical_rows`` renders an answer the way the driver's value hash
sees it (columns sorted by name, cells via ``_repr_cell``, rows
sorted); ``value_hash`` digests it with the column types; ``check``
compares a frame to its DuckDB oracle on it with zero tolerance. Only
an entry that documents an estimator ``band`` falls back to the band
compare, after the strict compare fails: ``math.isclose`` treats
-0.0 == 0.0, which let t12's signed zero through two driver rounds."""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb

from sketchmlflink_spark.sources.tables import TABLE_NAMES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def _repr_cell(v) -> str:
    """Canonical string form at the fidelity a value hash sees.

    Floats go through ``repr`` (shortest round-trip form), so
    -0.0 != 0.0 and any ulp-level cross-engine drift shows; datetimes
    via isoformat (a DATE and a midnight TIMESTAMP render differently,
    as they would in any canonical serialization); Decimal normalized
    (DuckDB may return Decimal for DECIMAL-typed columns where Spark
    returns one too — compare by exact value, not trailing zeros)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(v.normalize())
    if isinstance(v, int):
        return repr(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_repr_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(f"{_repr_cell(k)}={_repr_cell(x)}" for k, x in v.items())
        return "{" + ",".join(items) + "}"
    return str(v)


def _render(row) -> tuple[str, ...]:
    return tuple(_repr_cell(v) for v in row)


def _in_name_order(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=columns.__getitem__)
    return [tuple(r[i] for i in order) for r in rows]


def canonical_rows(columns, rows) -> list[tuple[str, ...]]:
    """Columns sorted by name, every cell rendered, rows sorted."""
    return sorted(map(_render, _in_name_order(columns, rows)))


def value_hash(df) -> str:
    """md5 over the sorted column names, each column's Spark type and
    the canonical rows, so a column that changes type changes the
    digest even when its text does not."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = hashlib.md5(
        "\x02".join(f"{f.name}:{f.dataType.simpleString()}" for f in fields).encode()
    )
    for row in canonical_rows(df.columns, df.collect()):
        h.update(b"\x03" + "\x01".join(row).encode())
    return h.hexdigest()


def _collect_sides(spark_df, con, sql):
    """Collect the frame and run its oracle. Returns each side's columns
    and rows, or a column or row-count mismatch as problems."""
    spark_rows = spark_df.collect()
    duck = con.execute(sql)
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()
    names = sorted(spark_df.columns)
    if names != sorted(duck_cols):
        return None, [f"column mismatch: spark={names} duck={sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return None, [f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"]
    return (spark_df.columns, spark_rows, duck_cols, duck_rows), []


def _band_equal(a, b, band: float) -> bool:
    """Ints and floats equal within ``rel_tol=band`` (so -0.0 == 0.0 and
    ulp drift pass); every other cell equal as its canonical string."""
    if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in (a, b)):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=band, abs_tol=1e-9
        )
    return _repr_cell(a) == _repr_cell(b)


def _mismatches(sides, band) -> list[str]:
    """Pair the rows in canonical order and list the cells that differ:
    as canonical strings (the strict compare) when ``band`` is None,
    else by ``_band_equal`` (the band compare)."""
    spark_cols, spark_rows, duck_cols, duck_rows = sides
    s = sorted(_in_name_order(spark_cols, spark_rows), key=_render)
    d = sorted(_in_name_order(duck_cols, duck_rows), key=_render)
    names, problems = sorted(spark_cols), []
    for i, (sr, dr) in enumerate(zip(s, d)):
        problems += [
            f"row {i} col {c}: spark={_repr_cell(sv)!r} duck={_repr_cell(dv)!r}"
            for c, sv, dv in zip(names, sr, dr)
            if not (
                _repr_cell(sv) == _repr_cell(dv)
                if band is None
                else _band_equal(sv, dv, band)
            )
        ]
        if len(problems) > 8:
            return problems + ["..."]
    return problems


def check(query, df, con) -> tuple[str, list[str]]:
    """Compare ``df`` to ``query.oracle`` on ``con`` at the driver's
    strictness: canonical rows, zero tolerance. Returns ``("hash", [])``
    on a match. When the strict compare fails and ``query.band`` is set
    (an approximate estimator past its exact regime, e.g. sk01's HLL),
    the same collected rows are compared within the band instead and
    the kind is ``"band"``. Non-empty problems == mismatch."""
    sides, problems = _collect_sides(df, con, query.oracle)
    if problems:
        return "hash", problems
    problems = _mismatches(sides, None)
    if problems and query.band is not None:
        return "band", _mismatches(sides, query.band)
    return "hash", problems
