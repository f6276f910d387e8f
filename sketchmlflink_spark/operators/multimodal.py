"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extraction as Arrow-batched pandas functions over
``mapInPandas`` (SURVEY.md north-star scope).

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic stub (`fake_decode_features`) — the
Spark-side plumbing (binary schema, batch shape, partitioning, UDF
signature) is real and tested. Swapping the stub for PIL/torchaudio is a
one-function change.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from sketchmlflink_spark.operators.relational import t
from sketchmlflink_spark.registry import register

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_head", ArrayType(DoubleType())),
    ]
)


def media_table(docs: DataFrame) -> DataFrame:
    """Documents → opaque binary payloads + typed metadata. In a real
    pipeline this is the parquet table of raw image/audio bytes."""
    return docs.select(
        "doc_id",
        F.lit("text/fake").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


def fake_decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decode: deterministic fake feature extraction (byte stats)
    standing in for image-decode/resize/frame-sample. Real decoders are
    NOT installed in this container — replace this function body (only)
    when they are. Arrow-batched: one pandas frame per partition chunk.
    """
    import math

    import numpy as np

    for pdf in batches:
        feats = []
        for payload in pdf["payload"]:
            arr = np.frombuffer(payload, dtype=np.uint8)
            head = (arr[:8].astype("float64") / 255.0) if arr.size else np.zeros(8)
            # mean rounded to 4dp with explicit integer half-up —
            # floor((2s·10⁴+n)/2n)/10⁴ — because round() builtins
            # disagree across engines on exact .5 (power-of-two byte
            # counts make those ties real), and the oracle replays the
            # identical integer arithmetic
            if arr.size:
                s, n = int(arr.sum()), int(arr.size)
                mean4 = math.floor((2 * s * 10_000 + n) / (2 * n)) / 10_000.0
            else:
                mean4 = 0.0
            feats.append((mean4, [round(x, 6) for x in head.tolist()]))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["n_bytes"],
                "feat_mean": [f[0] for f in feats],
                "feat_head": [f[1] for f in feats],
            }
        )


# --------------------------------------------------------------------------
# mm01 — metadata surface (oracle-checked: byte lengths must agree).
# --------------------------------------------------------------------------
@register(
    "mm01_media_metadata",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'text/fake'                                AS media_type
FROM documents
""",
    tags=("multimodal", "metadata"),
)
def mm01_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return media_table(docs).select("doc_id", "n_bytes", "media_type")


def _array_to_canon_str(col_name: str):
    """Canonical sortable string encoding of an array<double> column for the
    driver comparator (ndarray cells are unhashable in its pandas sort).
    Numeric payloads stay array-typed in the non-registered helpers."""
    return F.concat_ws(
        ",", F.transform(col_name, lambda x: F.format_string("%.6f", x))
    ).alias(col_name)


# --------------------------------------------------------------------------
# mm02 — decode + feature extraction over mapInPandas. The stub decode
# is deterministic byte stats and the corpus is pure ASCII (bytes ==
# codepoints, driver-data invariant), so the whole Arrow decode path is
# hash-checked against a DuckDB byte-level reimplementation — the
# strongest check a stub can get. A real codec swap reverts the oracle
# to None (rows-only).
# --------------------------------------------------------------------------
@register(
    "mm02_media_features",
    oracle="""
WITH b AS (
    SELECT doc_id,
           list_transform(range(1, length(text) + 1), i -> ord(text[i])) AS bytes
    FROM documents
)
SELECT doc_id,
       CAST(len(bytes) AS BIGINT) AS n_bytes,
       floor((2 * list_sum(bytes) * 10000 + len(bytes))
             / (2.0 * len(bytes))) / 10000.0 AS feat_mean,
       array_to_string(list_transform(bytes[1:8], x -> printf('%.6f', x / 255.0)), ',') AS feat_head
FROM b
""",
    tags=("multimodal", "features"),
)
def mm02_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    feats = media_table(docs).mapInPandas(fake_decode_features, FEATURE_SCHEMA)
    return feats.select(
        "doc_id", "n_bytes", "feat_mean", _array_to_canon_str("feat_head")
    )


# --------------------------------------------------------------------------
# mm03 — frame sampling + resize plumbing (one row → many frame rows).
# --------------------------------------------------------------------------
FRAME_BYTES = 32   # stub "frame" = 32 payload bytes
FRAME_STRIDE = 4   # sample every 4th frame
RESIZE_DIM = 4     # "resized" feature vector length per frame

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("resized", ArrayType(DoubleType())),
    ]
)


def fake_frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB frame-sample + resize: split the opaque payload into
    fixed-size "frames", keep every FRAME_STRIDE-th, and "resize" each
    to RESIZE_DIM values by block-averaging its bytes. Stands in for
    video frame extraction + image resize (codecs not installed); the
    one-row→many-rows batch shape, schema, and partition behavior are
    the real thing."""
    import numpy as np

    for pdf in batches:
        ids, idxs, feats = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8)
            n_frames = len(arr) // FRAME_BYTES
            for fi in range(0, n_frames, FRAME_STRIDE):
                frame = arr[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES].astype("float64")
                resized = frame.reshape(RESIZE_DIM, -1).mean(axis=1) / 255.0
                ids.append(doc_id)
                idxs.append(fi)
                feats.append([round(float(x), 6) for x in resized])
        yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "resized": feats})


@register(
    "mm03_frame_sample",
    # deterministic stub ⇒ byte-level DuckDB oracle (see mm02 note):
    # every 4th 32-byte frame, 4 block means of 8 bytes each / 255
    oracle=f"""
WITH b AS (
    SELECT doc_id, list_transform(range(1, length(text) + 1), i -> ord(text[i])) AS bytes
    FROM documents
),
f AS (
    SELECT doc_id, bytes,
           unnest(range(0, len(bytes) // {FRAME_BYTES}, {FRAME_STRIDE})) AS frame_idx
    FROM b
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       array_to_string(
         list_transform(range(0, {RESIZE_DIM}),
           k -> printf('%.6f',
                list_sum(bytes[frame_idx*{FRAME_BYTES} + k*{FRAME_BYTES // RESIZE_DIM} + 1
                               : frame_idx*{FRAME_BYTES} + k*{FRAME_BYTES // RESIZE_DIM} + {FRAME_BYTES // RESIZE_DIM}])
                / {(FRAME_BYTES // RESIZE_DIM) * 255}.0)),
         ',') AS resized
FROM f
""",
    tags=("multimodal", "frames"),
)
def mm03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    frames = media_table(docs).mapInPandas(fake_frame_sample, FRAME_SCHEMA)
    return frames.select("doc_id", "frame_idx", _array_to_canon_str("resized"))


# --------------------------------------------------------------------------
# mm04 — frame-level exact dedup: identical sampled frames corpus-wide.
# --------------------------------------------------------------------------
@register(
    "mm04_frame_exact_dedup",
    # deterministic byte math on an ASCII corpus ⇒ DuckDB replays the
    # frame slicing and hashes the same bytes (see mm02 note)
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         CAST(unnest(range(0, length(text) // {FRAME_BYTES}, {FRAME_STRIDE})) AS BIGINT) AS frame_idx,
         text
  FROM documents
),
h AS (
  SELECT doc_id, frame_idx,
         md5(substr(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES})) AS frame_digest
  FROM f
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY frame_digest ORDER BY doc_id, frame_idx) AS rn
  FROM h
)
SELECT frame_digest,
       CAST(count(*) AS BIGINT) AS n_copies,
       max(CASE WHEN rn = 1 THEN doc_id END)    AS keeper_doc_id,
       max(CASE WHEN rn = 1 THEN frame_idx END) AS keeper_frame_idx
FROM r GROUP BY frame_digest
""",
    tags=("multimodal", "frames", "dedup"),
)
def mm04_frame_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of sampled media frames: every FRAME_STRIDE-th
    FRAME_BYTES slice of the opaque payload is digested and grouped
    corpus-wide — the frame-level twin of d01's document dedup, the op a
    video-training pipeline runs to drop repeated intro/outro frames.

    Plan shape: frame slicing and hashing are pure Catalyst over the
    BINARY payload column (sequence → posexplode → md5(substring)) — no
    Python, no decode needed, because exact dedup only needs bytes. ONE
    shuffle on the 16-byte digest with map-side-combinable aggregates
    (count + lexicographic min-struct keeper election). At 100 TB the
    shuffle carries digests and ids only — frame bytes never leave the
    scan."""
    docs = t(spark, sf_dir, "documents")
    media = media_table(docs)
    n_frames = F.floor(F.col("n_bytes") / FRAME_BYTES).cast("int")
    frame_idxs = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    frames = media.select(
        "doc_id",
        "payload",
        F.explode(frame_idxs).alias("fi"),
    ).select(
        "doc_id",
        "payload",
        F.col("fi").cast("long").alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        F.md5(
            F.substring(
                "payload", F.col("frame_idx").cast("int") * FRAME_BYTES + 1, FRAME_BYTES
            )
        ).alias("frame_digest"),
    )
    keeper = F.min(F.struct("doc_id", "frame_idx")).alias("k")
    return (
        frames.groupBy("frame_digest")
        .agg(F.count(F.lit(1)).alias("n_copies"), keeper)
        .select(
            "frame_digest",
            "n_copies",
            F.col("k.doc_id").alias("keeper_doc_id"),
            F.col("k.frame_idx").alias("keeper_frame_idx"),
        )
    )


# --------------------------------------------------------------------------
# mm05 — perceptual frame dedup (dHash-style gradient signature).
# --------------------------------------------------------------------------
PHASH_BITS = 31  # adjacent-byte gradient bits per frame (fits a BIGINT)


@register(
    "mm05_frame_perceptual_dedup",
    # deterministic byte math on the ASCII corpus ⇒ DuckDB replays the
    # exact signature arithmetic (see mm02 note)
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         CAST(unnest(range(0, length(text) // {FRAME_BYTES}, {FRAME_STRIDE})) AS BIGINT) AS frame_idx,
         text
  FROM documents
),
s AS (
  SELECT doc_id, frame_idx,
         list_sum(list_transform(range(0, {PHASH_BITS}),
           j -> CASE WHEN ord(text[CAST(frame_idx * {FRAME_BYTES} + 1 + j AS INT)])
                        > ord(text[CAST(frame_idx * {FRAME_BYTES} + 2 + j AS INT)])
                     THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS sig
  FROM f
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY sig ORDER BY doc_id, frame_idx) AS rn
  FROM s
)
SELECT CAST(sig AS BIGINT) AS sig,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       max(CASE WHEN rn = 1 THEN doc_id END)    AS keeper_doc_id,
       max(CASE WHEN rn = 1 THEN frame_idx END) AS keeper_frame_idx
FROM r GROUP BY sig HAVING count(*) >= 2
""",
    tags=("multimodal", "frames", "perceptual", "dedup"),
)
def mm05_frame_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL frame dedup — mm04's exact-digest twin with a
    dHash-style signature: bit j of a frame's 31-bit signature records
    whether byte j exceeds byte j+1 (the adjacent-gradient pattern a
    real dHash computes on a downscaled image). Frames whose gradient
    pattern is identical collapse into one group even when absolute
    byte values differ — the invariance that makes perceptual hashing
    robust to brightness/re-encode changes; here it is deterministic
    byte math, so the oracle replays it exactly.

    Plan shape: signatures are pure Catalyst (aggregate over a
    sequence of ascii(substring) comparisons — no Python, no decode),
    then ONE shuffle on the 8-byte signature with map-side-combinable
    aggregates. Frame bytes never leave the scan. A hamming-radius
    (≤k) variant adds d05's pigeonhole banding on the same signature
    column; exact-signature grouping is the production default
    (pHash-bucket dedup)."""
    docs = t(spark, sf_dir, "documents")
    n_frames = F.floor(F.length("text") / FRAME_BYTES).cast("int")
    frame_idxs = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), n_frames - 1, F.lit(FRAME_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    frames = docs.select(
        "doc_id", "text", F.explode(frame_idxs).alias("fi")
    ).select("doc_id", "text", F.col("fi").cast("long").alias("frame_idx"))
    sig = F.expr(
        f"aggregate(sequence(0, {PHASH_BITS - 1}), CAST(0 AS BIGINT), (acc, j) -> "
        f"acc + IF(ascii(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT) + j, 1)) "
        f"> ascii(substring(text, CAST(frame_idx * {FRAME_BYTES} + 2 AS INT) + j, 1)), "
        f"shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
    )
    keeper = F.min(F.struct("doc_id", "frame_idx")).alias("k")
    return (
        frames.select("doc_id", "frame_idx", sig.alias("sig"))
        .groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.count_distinct("doc_id").alias("n_docs"),
            keeper,
        )
        .where(F.col("n_frames") >= 2)
        .select(
            "sig",
            "n_frames",
            "n_docs",
            F.col("k.doc_id").alias("keeper_doc_id"),
            F.col("k.frame_idx").alias("keeper_frame_idx"),
        )
    )


# --------------------------------------------------------------------------
# mm06 — paired media↔embedding curation gate (the CLIP-score filter
# shape: join raw media to its embedding, score alignment, keep pairs
# above threshold — how LAION filtered 5B image-text pairs).
# --------------------------------------------------------------------------
MM06_THRESHOLD = 0.28


@register(
    "mm06_pair_curation",
    oracle=f"""
WITH pairs AS (
    SELECT d.source,
           1.0 / (1.0 + abs(ln(CAST(octet_length(encode(d.text)) AS DOUBLE))
                            - sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))))
               AS align_score
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
)
SELECT source,
       CAST(count(*) AS BIGINT)                              AS n_pairs,
       CAST(sum(CASE WHEN align_score >= {MM06_THRESHOLD}
                THEN 1 ELSE 0 END) AS BIGINT)                AS n_kept,
       round(CAST(sum(CAST(round(align_score, 12) AS DECIMAL(25,12))) AS DOUBLE)
             / count(*), 4)                                  AS avg_score
FROM pairs
GROUP BY source
""",
    tags=("multimodal", "pair-curation", "clip-gate"),
)
def mm06_pair_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media↔embedding pair curation: join each media payload (opaque
    binary, mm01's table) to its precomputed embedding, score the pair,
    and gate at a threshold — per-source keep counts + mean score.

    The production scorer is a CLIP forward pass; per the module stub
    policy the container has no model, so the score is a deterministic
    stand-in (1/(1+|ln(payload bytes) − ‖embedding‖₂|)) keeping every
    piece of the Spark plumbing real: binary payload projection, the
    pair join, JVM-side array math, threshold gate, rollup.

    Plan shape for 100 TB: doc_id = vec_id is a co-keyed equi-join of
    two petabyte tables — the exact case for storing both bucketed on
    the id (q31's layout, removing the shuffle entirely); unbucketed,
    it is one hash-partition exchange per side, never a broadcast. The
    binary payload itself never moves: the join projects only
    (source, n_bytes, embedding) — payload bytes reduce to a length at
    the scan."""
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    from sketchmlflink_spark.functions.vector import as_double_array, norm2

    media = media_table(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    pairs = media.join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    score = 1.0 / (
        1.0
        + F.abs(
            F.log(F.col("n_bytes").cast("double"))
            - norm2(as_double_array("embedding"))
        )
    )
    return (
        pairs.select("source", score.alias("align_score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("align_score") >= MM06_THRESHOLD).cast("long")
            ).alias("n_kept"),
            # per-pair score fixed as 12-dp DECIMAL → exact order-free
            # mean (t12/t15 recipe, round 8)
            F.round(
                F.sum(F.round(F.col("align_score"), 12).cast("decimal(25,12)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_score"),
        )
    )
