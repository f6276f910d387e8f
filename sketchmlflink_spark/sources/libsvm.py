"""LibSVM ingest with the reference's exact parse semantics
(Test.scala:126-176 — SURVEY.md §2.1 S1-S4):

  * strip trailing ``#`` comments (Test:135)
  * skip blank / comment-only lines (Test:137)
  * whitespace-split; head = label, tail = ``idx:val`` pairs (Test:138-139)
  * malformed pairs (not exactly ``idx:val``) raise (Test:142-143)
  * 1-based indices on disk → 0-based (Test:146)
  * optional ``max_dim`` truncation drops features with idx ≥ max_dim
    (Test:150), and rows left featureless are dropped (Test:151-152)
  * dimension inference: global max(index)+1 (Test:157-160)

Implemented as pure Catalyst expressions over ``spark.read.text`` — the
whole parse stays in whole-stage codegen and scales with input bytes
(Spark's builtin ``format("libsvm")`` lacks comment/maxDim/drop-empty
semantics, so we don't use it). Output schema matches FIXTURES.md §1:
``label double, indices array<int>, values array<double>``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAIR_RE = r"^[0-9]+:[-+0-9.eE]+$"


@dataclass(frozen=True)
class LibSVMData:
    df: DataFrame  # label double, indices array<int>, values array<double>
    dim: int


def parse_libsvm_lines(lines: DataFrame, max_dim: int | None = None, strict: bool = True) -> DataFrame:
    """``value: string`` lines → parsed rows. Catalyst-only."""
    body = F.trim(F.split(F.col("value"), "#").getItem(0))  # comment strip
    df = lines.select(body.alias("body")).where(F.length("body") > 0)  # blank skip
    toks = F.split(F.col("body"), r"\s+")
    df = df.select(
        F.element_at(toks, 1).cast("double").alias("label"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("pairs"),
    )
    if strict:
        # Test:142-143 `require`: every pair must be exactly idx:val
        valid = F.forall("pairs", lambda p: p.rlike(PAIR_RE))
        df = df.withColumn(
            "pairs",
            F.when(valid, F.col("pairs")).otherwise(
                F.raise_error(F.concat(F.lit("malformed libsvm pair in row with label "), F.col("label")))
            ),
        )
    # 1-based → 0-based shift (Test:146)
    coo = F.transform(
        "pairs",
        lambda p: F.struct(
            (F.split(p, ":").getItem(0).cast("int") - 1).alias("idx"),
            F.split(p, ":").getItem(1).cast("double").alias("v"),
        ),
    )
    df = df.select("label", coo.alias("coo"))
    if max_dim is not None:
        # parse-time pruning (Test:150, P7)
        df = df.withColumn("coo", F.filter("coo", lambda c: c["idx"] < max_dim))
    # drop rows with no remaining features (Test:151-152)
    df = df.where(F.size("coo") > 0)
    return df.select(
        "label",
        F.transform("coo", lambda c: c["idx"]).alias("indices"),
        F.transform("coo", lambda c: c["v"]).alias("values"),
    )


def infer_dimension(parsed: DataFrame) -> int:
    """S3: global max(featureIndex)+1 (Test:157-160). A scalar to the
    driver — Spark needs no broadcast-set dance here (SURVEY.md §1.3)."""
    row = parsed.agg((F.max(F.array_max("indices")) + 1).alias("dim")).first()
    return int(row["dim"]) if row["dim"] is not None else 0


def read_libsvm(
    spark: SparkSession, path: str, max_dim: int | None = None, strict: bool = True,
    cache: bool = False,
) -> LibSVMData:
    """S1→S2→S3 composed: text scan → parse → dimension inference.

    ``cache=True`` persists the parsed COO frame before the dimension
    agg, so the (regex-heavy) text parse runs ONCE for the whole
    ingest→split→fit→evaluate pipeline instead of once per downstream
    pass (the dim agg, the blockify scan, and the eval scan each
    re-executed the full parse — guide §1.2). Caller owns the lifetime
    via ``LibSVMData.df.unpersist()``; results are identical either way
    (the parse is deterministic)."""
    parsed = parse_libsvm_lines(spark.read.text(path), max_dim=max_dim, strict=strict)
    if cache:
        from pyspark import StorageLevel

        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    dim = infer_dimension(parsed)
    if max_dim is not None:
        dim = min(dim, max_dim)
    return LibSVMData(df=parsed, dim=dim)


def to_dense_features(data: LibSVMData) -> DataFrame:
    """S4 analog: COO → dense ``features`` array, for callers that want
    dense rows. Catalyst: scatter via array construction. The SGD loop
    does not need it: it trains on the COO columns directly. A row with a
    repeated index fails here under Spark's default map-key policy
    (DUPLICATED_MAP_KEY), where SGD sums the repeat."""
    dim = data.dim
    m = F.map_from_arrays("indices", "values")
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(m, i), F.lit(0.0)),
    )
    return data.df.select("label", dense.alias("features"))
