"""The end-to-end training-data pipeline as ONE declarative plan
(quality gate → dedup → token budget), the composition the individual
d/t operators exist for.

Why one plan instead of three jobs: expressed as a single DataFrame,
Catalyst fuses the quality signals and the dedup digest into the same
scan-side projection (one pass over text), the only shuffle is the
digest groupBy, and the final per-language rollup rides the AQE-sized
output of that shuffle. Three chained jobs would scan the corpus three
times and materialize two intermediates; at 100 TB that difference IS
the pipeline's cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sketchmlflink_spark.functions import text as T
from sketchmlflink_spark.functions import zround
from sketchmlflink_spark.operators.relational import t
from sketchmlflink_spark.operators.textops import (
    QF_MIN_DISTINCT,
    QF_MIN_STOPWORD,
    QF_MIN_TOKENS,
    QF_TOKEN_LEN_HI,
    QF_TOKEN_LEN_LO,
    _duck_tokens,
)
from sketchmlflink_spark.registry import register
from sketchmlflink_spark.scratch import derived_dir, scratch_dir


@register(
    "p01_corpus_pipeline",
    oracle=rf"""
WITH sig AS (
    SELECT doc_id, lang,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
           len(tk) AS n_tokens,
           len(list_distinct(tk)) * 1.0 / len(tk) AS dr,
           len(list_filter(tk, x -> x IN {T.EN_STOPWORDS!r})) * 1.0 / len(tk) AS sr,
           list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) AS atl,
           len(regexp_extract_all(text, '{T.BPE_PATTERN.replace("'", "''")}')) AS bpe
    FROM (SELECT doc_id, lang, text, {_duck_tokens()} AS tk FROM documents)
    WHERE len(tk) > 0
),
q AS (
    SELECT *,
           (n_tokens >= {QF_MIN_TOKENS} AND dr >= {QF_MIN_DISTINCT}
            AND sr >= {QF_MIN_STOPWORD}
            AND atl BETWEEN {QF_TOKEN_LEN_LO} AND {QF_TOKEN_LEN_HI}) AS keep
    FROM sig
),
d AS (
    SELECT *,
           CASE WHEN keep
                THEN row_number() OVER (PARTITION BY keep, norm_hash ORDER BY doc_id)
           END AS rn
    FROM q
)
SELECT lang,
       CAST(count(*) AS BIGINT)                          AS n_raw,
       CAST(count(*) FILTER (keep) AS BIGINT)            AS n_quality,
       CAST(count(*) FILTER (rn = 1) AS BIGINT)          AS n_unique,
       CAST(coalesce(sum(bpe) FILTER (rn = 1), 0) AS BIGINT) AS bpe_tokens
FROM d
GROUP BY lang
""",
    tags=("pipeline", "quality", "dedup", "tokens"),
)
def p01_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pipeline funnel: raw docs → quality survivors →
    dedup keepers (lowest doc_id per normalized digest among survivors)
    → BPE token budget of the final set. Plan shape: one text scan
    computing signals + digest together, one window/shuffle on the
    digest, one tiny rollup."""
    docs = t(spark, sf_dir, "documents")
    sig = (
        docs.select("doc_id", "lang", "text", T.tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            "lang",
            F.md5(T.normalized_text("text")).alias("norm_hash"),
            F.size("tk").alias("n_tokens"),
            T.distinct_token_ratio(F.col("tk")).alias("dr"),
            (T.marker_hits(F.col("tk"), T.EN_STOPWORDS) / F.size("tk")).alias("sr"),
            T.avg_token_len(F.col("tk")).alias("atl"),
            T.bpe_token_count("text").alias("bpe"),
        )
    )
    keep = (
        (F.col("n_tokens") >= QF_MIN_TOKENS)
        & (F.col("dr") >= QF_MIN_DISTINCT)
        & (F.col("sr") >= QF_MIN_STOPWORD)
        & F.col("atl").between(QF_TOKEN_LEN_LO, QF_TOKEN_LEN_HI)
    )
    q = sig.withColumn("keep", keep)
    w = Window.partitionBy("keep", "norm_hash").orderBy("doc_id")
    d = q.withColumn(
        "rn", F.when(F.col("keep"), F.row_number().over(w))
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("keep"), 1)).alias("n_quality"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_unique"),
        F.coalesce(F.sum(F.when(F.col("rn") == 1, F.col("bpe"))), F.lit(0)).cast("long").alias("bpe_tokens"),
    )


# --------------------------------------------------------------------------
# p02 — embedding-corpus curation funnel (the vector twin of p01).
# --------------------------------------------------------------------------
P02_MAX_COMPONENT = 0.40  # spikiness gate: drop vectors dominated by one dim
P02_DUP_TAU = 0.4         # near-dup bar (same as d06/d11)


@register(
    "p02_embedding_pipeline",
    oracle=f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
g AS (
    SELECT vec_id, v FROM e
    WHERE list_max(list_transform(v, x -> abs(x))) <= {P02_MAX_COMPONENT}
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM g a JOIN g b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= {P02_DUP_TAU}
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT)                      AS n_input,
       CAST((SELECT count(*) FROM e) - (SELECT count(*) FROM g)
            AS BIGINT)                                               AS n_gated_out,
       CAST((SELECT count(*) FROM dropped) AS BIGINT)                AS n_dup_dropped,
       CAST((SELECT count(*) FROM g)
            - (SELECT count(*) FROM dropped) AS BIGINT)              AS n_kept
""",
    tags=("pipeline", "embedding", "gate", "dedup"),
)
def p02_embedding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus curation funnel: raw vectors → spikiness gate
    (drop any vector whose largest |component| exceeds
    P02_MAX_COMPONENT — degenerate/clipped embeddings) → exact
    cosine near-dup drop (for every pair >= P02_DUP_TAU among
    survivors, the higher vec_id is dropped) → funnel counts.

    Plan shape: the gate is a scan-side Catalyst filter feeding d06's
    distributed block-pair dgemm kernel (`exact_cosine_pairs`) directly
    — gated rows never enter the O(n²/B) pair work, which is the point
    of gating first. The drop set is a distinct over pair right-ends
    (one small shuffle) and the funnel is a handful of count
    aggregates. At 100 TB the same funnel swaps the exact kernel for
    d07's LSH candidate-verify with identical gate/drop semantics."""
    from sketchmlflink_spark.functions.vector import as_double_array
    from sketchmlflink_spark.operators.dedup import exact_cosine_pairs

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    passes = F.array_max(F.transform("v", lambda x: F.abs(x))) <= P02_MAX_COMPONENT
    g = e.where(passes)
    dropped = exact_cosine_pairs(g, threshold=P02_DUP_TAU).select(
        F.col("id_b").alias("vec_id")
    ).distinct()
    # one scan for both pre-pair counts (separate e.count()/g.count()
    # would read the table twice); the pair kernel is the only other scan
    counts = e.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count(F.when(passes, 1)).alias("n_gated"),
    ).first()
    n_input = counts["n_input"]
    n_gated = counts["n_gated"]
    n_dropped = dropped.count()
    return spark.createDataFrame(
        [
            {
                "n_input": n_input,
                "n_gated_out": n_input - n_gated,
                "n_dup_dropped": n_dropped,
                "n_kept": n_gated - n_dropped,
            }
        ]
    ).select("n_input", "n_gated_out", "n_dup_dropped", "n_kept")


# --------------------------------------------------------------------------
# p03 — data-mix sampling plan: deterministic stratified downsample.
# --------------------------------------------------------------------------
@register(
    "p03_language_mix_sample",
    oracle="""
WITH c AS (
    SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
),
m AS (SELECT min(n_docs) AS min_docs FROM c),
thr AS (
    SELECT c.lang, c.n_docs,
           printf('%08x', least(CAST(floor((m.min_docs * 1.0 / c.n_docs) * 4294967296) AS BIGINT),
                                4294967295)) AS h
    FROM c, m
),
s AS (
    SELECT d.lang, d.n_chars,
           substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <= t.h AS picked
    FROM documents d JOIN thr t ON d.lang = t.lang
)
SELECT lang,
       CAST(count(*) AS BIGINT)                       AS n_docs_in,
       CAST(count(*) FILTER (picked) AS BIGINT)       AS n_sampled,
       CAST(coalesce(sum(n_chars) FILTER (picked), 0) AS BIGINT) AS chars_sampled
FROM s GROUP BY lang
""",
    tags=("pipeline", "sampling", "data-mix"),
)
def p03_language_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified data-mix sampling: downsample every
    language to (approximately) the smallest language's document count,
    the balancing step a multilingual training mix applies before
    tokenization. A document is picked iff the first 8 hex chars of
    md5(doc_id) fall under its language's rate threshold — a pure
    function of (doc_id, lang counts), so the sample is REPRODUCIBLE
    across engines, runs, and cluster sizes (no RNG state, no
    per-partition seed drift — the property that makes a 100 TB sample
    auditable). Plan shape: one tiny per-lang count aggregate broadcast
    back onto the scan, the pick decision evaluated scan-side, one
    rollup; the corpus is read once and never shuffles its text."""
    docs = t(spark, sf_dir, "documents")
    cnt = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # global min via a window over the ALREADY-AGGREGATED ≤|langs|-row
    # frame — a second agg branch would re-derive cnt and re-scan the
    # corpus (Catalyst duplicates unshared subtrees)
    thr = cnt.withColumn(
        "min_docs", F.min("n_docs").over(Window.partitionBy())
    ).select(
        "lang",
        "n_docs",
        F.format_string(
            "%08x",
            # cap at 0xffffffff: the min lang's rate is exactly 1.0 and
            # floor(2^32) would print as the 9-char '100000000', breaking
            # the fixed-width hex compare (everything above '0fff...'
            # would be dropped for the one lang that must keep all docs)
            F.least(
                F.floor(
                    (F.col("min_docs") / F.col("n_docs")) * F.lit(4294967296.0)
                ).cast("long"),
                F.lit(4294967295),
            ),
        ).alias("h"),
    )
    picked = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) <= F.col("h")
    s = docs.join(F.broadcast(thr), "lang").select("lang", "n_chars", picked.alias("picked"))
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_in"),
        F.count(F.when(F.col("picked"), 1)).alias("n_sampled"),
        F.coalesce(F.sum(F.when(F.col("picked"), F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("chars_sampled"),
    )


# --------------------------------------------------------------------------
# p04 — curated-corpus SINK: partitioned parquet write + read-back audit.
# --------------------------------------------------------------------------
@register(
    "p04_curated_sink_roundtrip",
    oracle=f"""
WITH sig AS (
    SELECT doc_id,
           len(tk)                                                   AS n_tokens,
           len(list_distinct(tk)) * 1.0 / len(tk)                    AS dr,
           len(list_filter(tk, x -> x IN {T.EN_STOPWORDS!r})) * 1.0
             / len(tk)                                               AS sr,
           list_sum(list_transform(tk, x -> length(x))) * 1.0
             / len(tk)                                               AS atl
    FROM (SELECT doc_id, {_duck_tokens()} AS tk FROM documents)
    WHERE len(tk) > 0
),
kept AS (
    SELECT doc_id FROM sig
    WHERE n_tokens >= {QF_MIN_TOKENS} AND dr >= {QF_MIN_DISTINCT}
      AND sr >= {QF_MIN_STOPWORD}
      AND atl BETWEEN {QF_TOKEN_LEN_LO} AND {QF_TOKEN_LEN_HI}
)
SELECT d.lang,
       CAST(count(*) AS BIGINT)            AS n_docs,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_distinct_docs,
       CAST(sum(d.n_chars) AS BIGINT)      AS chars_total
FROM documents d JOIN kept k ON d.doc_id = k.doc_id
GROUP BY d.lang
""",
    tags=("pipeline", "sink", "parquet", "partitioned"),
)
def p04_curated_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus SINK: the t06-kept documents written to a
    lang-partitioned parquet dataset, then READ BACK and audited per
    language — the write path every curation pipeline ends with, proven
    by roundtrip (the audit aggregate is computed from the files on
    disk, and hash-matches the source-side oracle, so the sink neither
    drops nor duplicates rows).

    Scale notes (the part that matters at 100 TB): ``repartition(lang)``
    before ``partitionBy(lang)`` means each output partition directory
    is written by the tasks owning that key instead of every task
    opening a file in every partition — without it a 1000-task write
    into L languages creates 1000·L small files and L·1000 open file
    handles. ``maxRecordsPerFile`` caps file size so one giant language
    still splits into scan-parallel files. The read-back scan prunes to
    the partition column + audit columns only; text bytes are written
    but never re-read.
    """
    from sketchmlflink_spark.functions import text as T_  # noqa: N812

    docs = t(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id", "lang", "source", "n_chars", "text", T_.tokens("text").alias("tk")
    ).where(F.size("tk") > 0)
    keep = (
        (F.size("tk") >= QF_MIN_TOKENS)
        & (T_.distinct_token_ratio(F.col("tk")) >= QF_MIN_DISTINCT)
        & ((T_.marker_hits(F.col("tk"), T_.EN_STOPWORDS) / F.size("tk")) >= QF_MIN_STOPWORD)
        & T_.avg_token_len(F.col("tk")).between(QF_TOKEN_LEN_LO, QF_TOKEN_LEN_HI)
    )
    kept = sig.where(keep).select("doc_id", "lang", "source", "n_chars", "text")

    out_dir = scratch_dir("curated_")
    (
        kept.repartition("lang")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy("lang")
        .parquet(out_dir)
    )

    audit = spark.read.parquet(out_dir)
    return audit.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("doc_id").alias("n_distinct_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


# --------------------------------------------------------------------------
# p05 — exact-k stratified sample (deterministic, engine-portable).
# --------------------------------------------------------------------------
P05_K = 50  # exactly K docs per language (or all, if the stratum is smaller)


@register(
    "p05_stratified_exact_k",
    oracle=f"""
SELECT lang, doc_id, CAST(rnk AS INT) AS rank
FROM (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rnk
    FROM documents
)
WHERE rnk <= {P05_K}
""",
    tags=("pipeline", "sampling", "stratified"),
)
def p05_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K-per-stratum sampling (eval-set construction): take the
    K docs with the smallest md5(doc_id) per language. md5 ordering is a
    deterministic, engine-portable stand-in for a seeded shuffle — any
    engine reproduces the same sample, which is what makes an eval set
    auditable.

    Scale shape: one shuffle on lang (the stratum key), top-K per group
    via row_number — no global sort, no text read (doc_id + lang
    projection only). Skewed strata are fine: K rows survive per
    stratum regardless of input size. For K in the millions swap
    row_number for a two-phase quantile cut on the md5 key (the
    boundary-threshold form p03 uses).
    """
    docs = t(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= P05_K)
        .select("lang", "doc_id", F.col("rnk").cast("int").alias("rank"))
    )


# --------------------------------------------------------------------------
# p06 — epoch-weighted mixture manifest (data mixing with repetition).
# --------------------------------------------------------------------------
# source → epochs: how many times each source's docs appear per training
# pass (the Pile/Dolma-style up-weighting of high-quality sources).
# Keys match the testdata's source ids (src0..src19); unlisted sources
# get the default single epoch.
P06_EPOCHS = {"src0": 3, "src1": 2, "src2": 2, "src3": 1, "src4": 4, "src5": 2}
P06_DEFAULT_EPOCHS = 1


@register(
    "p06_mixture_manifest",
    oracle=f"""
WITH w(source, epochs) AS (VALUES {", ".join(f"('{s}', {e})" for s, e in sorted(P06_EPOCHS.items()))}),
d AS (
    SELECT doc_id, d.source, coalesce(w.epochs, {P06_DEFAULT_EPOCHS}) AS epochs
    FROM documents d LEFT JOIN w ON d.source = w.source
)
SELECT doc_id, source, CAST(u.e AS INT) AS epoch_idx
FROM d, unnest(range(1, epochs + 1)) AS u(e)
""",
    tags=("pipeline", "mixing", "manifest"),
)
def p06_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixture manifest: every document emitted once per
    configured epoch for its source — the repetition schedule a training
    run consumes (wiki x3, books/code x2, web/news x1). Emitting a
    manifest of (doc_id, epoch_idx) instead of materializing repeated
    text keeps the blow-up to 8-byte ids; the trainer joins text back
    at read time.

    Scale shape: the weight map is a broadcast literal join (five rows);
    the explode is sequence(1, epochs) — scan-side row generation inside
    the same codegen stage, no shuffle at all. The manifest at 100 TB is
    ids-only, ~1e9 rows per epoch — trivially repartitionable to the
    trainer's reader parallelism.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    weights = F.create_map(
        *[F.lit(x) for kv in sorted(P06_EPOCHS.items()) for x in kv]
    )
    return (
        docs.withColumn(
            "epochs",
            F.coalesce(weights[F.col("source")], F.lit(P06_DEFAULT_EPOCHS)),
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("epochs"))).alias("epoch_idx"),
        )
        .select("doc_id", "source", F.col("epoch_idx").cast("int").alias("epoch_idx"))
    )


# --------------------------------------------------------------------------
# p07 — sequence packing: contiguous token-budget assignment (the
# pretraining sequence-construction op), via a SCALABLE two-phase
# prefix sum instead of a single-partition global window.
# --------------------------------------------------------------------------
P07_BUDGET = 2048      # tokens per packed training sequence
P07_BUCKET = 256       # docs per prefix-sum bucket (stage-1 granularity)


@register(
    "p07_sequence_packing",
    oracle=f"""
WITH n AS (
    SELECT doc_id, len({_duck_tokens()}) AS n_tokens FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
             - n_tokens AS cum_before
    FROM n
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT)                    AS n_tokens,
       CAST(floor(cum_before / {P07_BUDGET}) AS BIGINT) AS seq_id,
       CAST(cum_before % {P07_BUDGET} AS BIGINT)   AS seq_offset
FROM c
""",
    tags=("pipeline", "packing", "sequences"),
)
def p07_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents are concatenated in doc_id order and
    split into {P07_BUDGET}-token training sequences; each doc gets the
    sequence id and offset where it STARTS — the manifest a pretraining
    data loader consumes (the doc/boundary split itself happens at
    tokenization time from (seq_id, seq_offset)).

    The interesting part is HOW the running token total is computed.
    The naive form is a global ORDER BY window — a single-partition
    sort that serializes the whole corpus through one task at 100 TB.
    Instead: classic two-phase prefix sum. Stage 1 computes per-bucket
    token totals (doc_id div {P07_BUCKET}); the bucket-prefix frame is
    corpus_size/{P07_BUCKET} rows (tiny), so its own running sum is a
    cheap small-frame window; stage 2 broadcasts those bucket prefixes
    back and adds a WITHIN-bucket running sum, which partitions by
    bucket and parallelizes perfectly. The oracle uses the naive global
    window — same answer, different physics."""
    docs = t(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") / P07_BUCKET).cast("long").alias("bucket"),
    )
    bucket_totals = n.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    w_bucket = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bucket_prefix = bucket_totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_bucket), F.lit(0)).alias("bucket_prefix"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        n.join(F.broadcast(bucket_prefix), "bucket")
        .withColumn(
            "cum_before",
            F.col("bucket_prefix") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
        )
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("cum_before") / P07_BUDGET).cast("long").alias("seq_id"),
        (F.col("cum_before") % P07_BUDGET).cast("long").alias("seq_offset"),
    )


# --------------------------------------------------------------------------
# p08 — incremental materialized-rollup maintenance: merge a new
# partition's partial aggregate into a STORED rollup instead of
# re-scanning history. The batch counterpart of the streaming
# stateful aggregations (st01/st07) and the day-sketch pattern (sk01),
# for plain additive metrics.
# --------------------------------------------------------------------------
P08_DELTA_DAYS = 2  # the "newly arrived" tail treated as the delta


@register(
    "p08_incremental_rollup",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    tags=("pipeline", "incremental", "rollup", "materialized-view"),
)
def p08_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, proven by equivalence: the historic
    prefix of events is rolled up to (day, type) grain and PERSISTED as
    the stored rollup table; the last P08_DELTA_DAYS arrive as a delta
    whose scan carries a pushed half-open ts range (only the new
    partition's row groups are read); merge = unionByName(stored, delta)
    + one re-aggregation over ROLLUP ROWS, never over raw history. The
    result must equal a full recompute — which is exactly what the
    oracle computes.

    Scale shape: after day one, the only fact-table I/O is the delta
    partition; the merge input is |days|·|types| rollup rows. Additive
    metrics (count, sum) merge exactly; non-additive ones ride sketch
    columns instead (sk01's HLL rollup — same storage pattern, same
    merge)."""
    import datetime

    ev = t(spark, sf_dir, "events")
    # stats-only split point: max(ts) comes from parquet footer stats,
    # no data scan of consequence
    max_day = ev.agg(F.max(F.to_date("ts")).alias("d")).first()["d"]
    cut_day = max_day - datetime.timedelta(days=P08_DELTA_DAYS - 1)
    cut = F.lit(cut_day.isoformat()).cast("timestamp_ntz")

    def rollup(df: DataFrame) -> DataFrame:
        # partials persist as exact DECIMAL — a double partial here
        # would make the stored+delta merge order-dependent (q05 class)
        return df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )

    stored_dir = scratch_dir("rollup_")
    rollup(ev.where(F.col("ts") < cut)).write.mode("overwrite").parquet(stored_dir)

    stored = spark.read.parquet(stored_dir)
    delta = rollup(ev.where(F.col("ts") >= cut))
    return (
        stored.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# p09 — batch CSV corpus intake with quarantine (st09's batch cousin,
# completing the format matrix: parquet / JSONL / LibSVM / text / CSV).
# --------------------------------------------------------------------------
P09_N_BAD = 3  # deterministic malformed lines planted in the fixture


@register(
    "p09_csv_intake_quarantine",
    oracle=f"""
SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
UNION ALL
SELECT '__corrupt__' AS bucket, CAST({P09_N_BAD} AS BIGINT) AS n_docs
""",
    tags=("pipeline", "csv", "ingest", "quarantine"),
)
def p09_csv_intake_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CSV intake: the documents table serialized once to a
    headerless CSV drop directory (plus P09_N_BAD deterministic torn
    lines — a bad-typed id, a short row, a long row), read back through
    read_csv_quarantine (raw text scan + from_csv, PERMISSIVE +
    corrupt-record quarantine — sources/csvfile.py), counted per
    language with the malformed lines in '__corrupt__'. Clean counts
    must equal the batch answer on the source table: the CSV round-trip
    neither drops nor duplicates rows, and every torn line is
    quarantined rather than silently absorbed."""
    import os

    from sketchmlflink_spark.sources.csvfile import read_csv_quarantine

    def build(fixture_dir: str) -> None:
        docs = t(spark, sf_dir, "documents")
        lines = docs.select(
            F.concat_ws(
                ",",
                F.col("doc_id").cast("string"),
                "text",
                "lang",
                "source",
                F.col("n_chars").cast("string"),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(fixture_dir)
        # planted torn lines: type mismatch, too few cols, too many cols
        with open(os.path.join(fixture_dir, "bad-lines.txt"), "w") as fh:
            fh.write(
                "notanid,torn text,en,web,9\n"
                "42,too,few\n"
                "43,surplus text,en,web,12,EXTRA\n"
            )

    fixture_dir = derived_dir("csv", sf_dir, "documents", build)
    clean, quarantine = read_csv_quarantine(spark, fixture_dir)
    per_lang = clean.groupBy(F.col("lang").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    corrupt = quarantine.agg(
        F.lit("__corrupt__").alias("bucket"), F.count(F.lit(1)).alias("n_docs")
    )
    return per_lang.unionByName(corrupt)


# --------------------------------------------------------------------------
# p10 — small-file compaction: the lake-maintenance job that bin-packs a
# fragmented partitioned dataset back to target-sized files.
# --------------------------------------------------------------------------
P10_FRAGMENT_TASKS = 64     # fragmentation factor of the staged input
P10_TARGET_ROWS = 20_000    # compaction target (rows per file)


@register(
    "p10_compact_small_files",
    oracle=f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(ceil(count(*) / {P10_TARGET_ROWS}.0) AS BIGINT) AS n_files,
       CAST(least(count(*), {P10_TARGET_ROWS}) AS BIGINT) AS max_rows_per_file
FROM events
GROUP BY event_type
""",
    tags=("pipeline", "compaction", "maintenance", "sink"),
)
def p10_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE / rewrite-data-files job):
    stage the events table as a deliberately fragmented
    event_type-partitioned dataset (~{P10_FRAGMENT_TASKS} files per
    partition), then rewrite each partition into
    ``ceil(rows / target)`` files and return the read-back audit —
    per partition: row count (conservation), compacted file count, and
    the largest file's row count (greedy fill: full files hold exactly
    `target` rows, the last file the remainder). The audit is
    hash-checked against the arithmetic the compactor must satisfy.

    Plan + scale: the compactor is one shuffle on the partition column
    with AQE coalescing, writing with ``maxRecordsPerFile`` so file
    count per partition is exactly ceil(rows/target) — deterministic,
    unlike byte-based targets. At 100 TB this is the nightly job that
    keeps scan parallelism healthy: without it the st15-style streaming
    sink accretes thousands of minute-scale files per partition and
    every downstream scan pays task-per-tiny-file scheduling. File
    inventory comes from input_file_name() grouping, not a driver-side
    filesystem walk."""
    import os

    from sketchmlflink_spark.sources.tables import load_table

    # both writes run in error-if-exists mode, so they name new subdirs
    base = scratch_dir("p10_")
    frag_dir, compact_dir = os.path.join(base, "frag"), os.path.join(base, "compact")

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    # stage: the fragmented lake state a streaming sink leaves behind
    ev.repartition(P10_FRAGMENT_TASKS).write.partitionBy("event_type").parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    # compact: one shuffle on the partition column; maxRecordsPerFile
    # splits each partition's single write task into equal-size bins
    (
        frag.repartition("event_type")
        .write.option("maxRecordsPerFile", P10_TARGET_ROWS)
        .partitionBy("event_type")
        .parquet(compact_dir)
    )
    audit = (
        spark.read.parquet(compact_dir)
        .withColumn("file", F.input_file_name())
        .groupBy("event_type", "file")
        .agg(F.count(F.lit(1)).alias("rows_in_file"))
        .groupBy("event_type")
        .agg(
            F.sum("rows_in_file").alias("n_rows"),
            F.count(F.lit(1)).alias("n_files"),
            F.max("rows_in_file").alias("max_rows_per_file"),
        )
    )
    return audit


# --------------------------------------------------------------------------
# p11 — dataset-card statistics: the per-source summary block every
# released training corpus ships (docs, tokens, language mix, duplicate
# rate, length distribution) — produced in ONE scan of the corpus.
# --------------------------------------------------------------------------
@register(
    "p11_dataset_card",
    oracle=f"""
SELECT source,
       CAST(count(*) AS BIGINT)                      AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT)          AS n_langs,
       CAST(sum(len({_duck_tokens()})) AS BIGINT)    AS total_tokens,
       round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4)
                                                     AS exact_dup_rate,
       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4)
                                                     AS en_share,
       round(quantile_cont(n_chars, 0.5), 4)         AS p50_chars,
       round(avg(n_chars), 4)                        AS avg_chars
FROM documents
GROUP BY source
""",
    tags=("pipeline", "dataset-card", "stats"),
)
def p11_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: corpus size, token volume, language
    diversity + en share, exact-duplicate rate (1 − distinct digests /
    docs), and the character-length median — the release-notes table a
    corpus curator regenerates after every pipeline change.

    Plan shape for 100 TB: a single scan projects (source, lang,
    digest, token count, n_chars); the two DISTINCT aggregates ride
    Spark's Expand strategy (rows ×3 into ONE shuffle on source — a
    constant factor, not a second scan; swap count_distinct for
    approx_count_distinct when a ±2% card is acceptable and the Expand
    disappears). The exact median uses the sort-based percentile
    aggregate, fine per-source; at petabyte scale sk03's GK summary is
    the drop-in approximate replacement."""
    docs = t(spark, sf_dir, "documents")
    proj = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("digest"),
        T.token_count("text").alias("n_tok"),
        (F.col("lang") == "en").cast("double").alias("is_en"),
    )
    return proj.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(
            F.lit(1.0) - F.countDistinct("digest") / F.count(F.lit(1)), 4
        ).alias("exact_dup_rate"),
        F.round(F.avg("is_en"), 4).alias("en_share"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# p12 — curriculum manifest: phase the corpus by quality and give every
# doc a deterministic within-phase shuffle key, so training order
# (clean → noisy curriculum) is a sort-on-read, not a job.
# --------------------------------------------------------------------------
P12_PHASES_CUTS = [1.0 / 3.0, 2.0 / 3.0]


@register(
    "p12_curriculum_manifest",
    oracle=f"""
WITH sig AS (
    SELECT doc_id,
           len(list_distinct(tk)) * 1.0 / len(tk)
             + len(list_filter(tk, x -> x IN {('the', 'a', 'of', 'and', 'is', 'to', 'in', 'it', 'that', 'for')})) * 1.0 / len(tk)
               AS score
    FROM (SELECT doc_id, {_duck_tokens()} AS tk FROM documents)
    WHERE len(tk) > 0
),
b AS (SELECT quantile_cont(score, {P12_PHASES_CUTS!r}) AS qs FROM sig)
SELECT s.doc_id,
       CAST(1 + len(list_filter(b.qs, q -> q < s.score)) AS INT) AS phase,
       substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 16)             AS order_key,
       round(s.score, 6)                                         AS score
FROM sig s, b
""",
    tags=("pipeline", "curriculum", "manifest"),
)
def p12_curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-phased curriculum manifest: each doc gets a phase (tercile
    of a cheap quality score — type/token + stopword ratio; phase 3 =
    cleanest, trained first in an anti-curriculum or last in a classic
    one) and a deterministic md5 shuffle key, so every epoch's read
    order is `ORDER BY phase, order_key` — pure sort-on-read, stable
    across reruns and engines.

    Plan shape for 100 TB (q28's recipe applied to the corpus): the
    phase boundaries are ONE tiny percentile aggregate broadcast back,
    each row buckets itself by counting boundaries below its score —
    no ntile, no global window, no single-partition sort anywhere; the
    manifest is ids + 16-byte keys, never text."""
    docs = t(spark, sf_dir, "documents")
    tk = T.tokens("text")
    sig = (
        docs.select("doc_id", tk.alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            (
                T.distinct_token_ratio(F.col("tk"))
                + T.marker_hits(F.col("tk"), T.EN_STOPWORDS) / F.size("tk")
            ).alias("score"),
        )
    )
    qs = sig.select(
        F.percentile("score", F.array(*[F.lit(c) for c in P12_PHASES_CUTS])).alias("qs")
    )
    return sig.join(F.broadcast(qs)).select(
        "doc_id",
        (F.lit(1) + F.size(F.filter("qs", lambda q: q < F.col("score"))))
        .cast("int")
        .alias("phase"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16).alias("order_key"),
        F.round("score", 6).alias("score"),
    )


# --------------------------------------------------------------------------
# p13 — deterministic hash split/shard manifest: the reproducible
# train/val/test assignment every training pipeline needs before writing
# shards. Pure content-hash routing — NO sampling, NO shuffle of text.
# --------------------------------------------------------------------------
# Split boundaries on the first md5 hex byte of the doc_id (256 buckets):
#   train : '00'..'cb'  (204/256 ≈ 79.7%)
#   val   : 'cc'..'e5'  ( 26/256 ≈ 10.2%)
#   test  : 'e6'..'ff'  ( 26/256 ≈ 10.2%)
# Shard label = 3rd hex nibble → 16 shards per split. Hex-string compare
# is lexicographic in both engines, so the routing is portable by
# construction (same idiom as d14's md5 hash family).
P13_ORACLE = """
WITH routed AS (
  SELECT doc_id, n_chars,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b,
         substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) AS shard
  FROM documents
),
labeled AS (
  SELECT CASE WHEN b <= 'cb' THEN 'train'
              WHEN b <= 'e5' THEN 'val'
              ELSE 'test' END AS split,
         shard, doc_id, n_chars
  FROM routed
)
SELECT split, shard,
       CAST(count(*) AS BIGINT)    AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT)  AS min_doc_id,
       CAST(max(doc_id) AS BIGINT)  AS max_doc_id
FROM labeled
GROUP BY split, shard
ORDER BY split, shard
"""


@register(
    "p13_hash_shard_manifest",
    oracle=P13_ORACLE,
    tags=("pipeline", "split", "shard", "manifest"),
)
def p13_hash_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + 16-way shard manifest, routed
    purely by md5(doc_id) hex ranges (79.7/10.2/10.2). Content-hash
    routing is the production idiom for reproducible splits: assignment
    is a property of the ROW, not of the job (re-runs, backfills and
    incremental arrivals land in the same split; no global sample, no
    seed to version).

    100-TB plan shape: the split/shard labels are scan-side projections
    (two substrings of one md5), the only shuffle is the tiny
    (split, shard) grid aggregate with map-side partials — the text
    column is never read (ReadSchema prunes to doc_id, n_chars)."""
    digest = F.md5(F.col("doc_id").cast("string"))
    b = F.substring(digest, 1, 2)
    routed = t(spark, sf_dir, "documents").select(
        F.when(b <= "cb", "train")
        .when(b <= "e5", "val")
        .otherwise("test")
        .alias("split"),
        F.substring(digest, 3, 1).alias("shard"),
        "doc_id",
        "n_chars",
    )
    return (
        routed.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("split", "shard")
    )


# --------------------------------------------------------------------------
# p14 — deterministic bottom-k corpus sample: uniform-at-random sample
# with NO seed state, via the k smallest content-hash ranks. Bottom-k
# samples are union-mergeable (bottom-k of a union = bottom-k of the
# merged bottom-k's), which is what makes them the at-scale idiom:
# shards/snapshots sample independently and merge exactly.
# --------------------------------------------------------------------------
P14_K = 500

P14_ORACLE = f"""
SELECT md5(CAST(doc_id AS VARCHAR)) AS rank_digest,
       doc_id, lang, n_chars
FROM documents
ORDER BY rank_digest
LIMIT {P14_K}
"""


@register(
    "p14_bottomk_sample",
    oracle=P14_ORACLE,
    tags=("pipeline", "sample", "bottom-k", "topk"),
)
def p14_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform 500-doc sample: rank every doc by
    md5(doc_id) and keep the k smallest — a seedless reservoir whose
    membership is a pure function of the row, so re-runs, backfills and
    per-shard samples all agree ([[p13]]'s routing idiom applied to
    sampling).

    100-TB plan shape: TakeOrderedAndProject — each task keeps a local
    bottom-k heap of (digest, 3 narrow columns) and the driver merges
    k-sized heaps; no global sort, no shuffle of the corpus, text never
    read."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.col("doc_id").cast("string")).alias("rank_digest"),
            "doc_id",
            "lang",
            "n_chars",
        )
        .orderBy("rank_digest")
        .limit(P14_K)
    )


# --------------------------------------------------------------------------
# p15 — DSIR importance RESAMPLING: the "R" the t12 weights exist for
# (Xie et al., NeurIPS'23). Draw a fixed-size sample of the raw corpus
# with inclusion probability ∝ exp(importance weight), without
# replacement, deterministically — the Gumbel-top-k trick (Efraimidis-
# Spirakis exponential-race sampling in log space): key = w + Gumbel
# noise, keep the K largest keys. With the noise derived from
# md5(doc_id) instead of an RNG, membership is a pure function of the
# row (p13/p14's seedless idiom), so re-runs, backfills and per-shard
# samples agree exactly.
# --------------------------------------------------------------------------
P15_K = 200

# -ln(-ln(u)) with u = (hashint6(doc_id) + 0.5) / 16^6: u is exactly
# representable, strictly inside (0,1), and identical in both engines
# (Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT — see the
# portability note in the docstring).
P15_ORACLE = f"""
WITH t12 AS ({{t12}}),
keyed AS (
    SELECT doc_id, lang, n_tokens, imp_logratio,
           -- + 0.0: signed-zero normalization after the final round
           -- (functions.zround's oracle twin; VERDICT r5 item 1)
           round(imp_logratio + -ln(-ln(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gumbel'), 1, 6))::BIGINT
                + 0.5) / 16777216.0
           )), 6) + 0.0 AS gumbel_key
    FROM t12
)
SELECT CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS INT)
           AS sample_rank,
       doc_id, lang, n_tokens, imp_logratio, gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id
LIMIT {P15_K}
"""


@register(
    "p15_dsir_resample",
    oracle=None,  # set below — nests textops.T12_ORACLE (late import)
    tags=("pipeline", "dsir", "resample", "sample", "gumbel"),
)
def p15_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {K}-doc importance resample of the corpus,
    P(doc in sample) ∝ exp(t12's DSIR weight): rank every doc by
    imp_logratio + Gumbel(md5(doc_id)) and keep the K largest — the
    Gumbel-top-k identity makes that EXACTLY weighted sampling without
    replacement, in one pass, with no RNG state. This is the complete
    DSIR pipeline: t12 estimates the two unigram LMs and scores docs;
    this query turns the scores into the training subset.

    Portability: the noise uses u = (hashint + 0.5)/16^6 where hashint
    is the first 6 md5 hex digits as an integer — Spark
    ``conv(hex, 16, 10)`` and DuckDB ``('0x' || hex)::BIGINT`` agree
    exactly, u is a dyadic rational (exact double), and the key is
    rounded to 6 dp BEFORE ranking with a doc_id tiebreak, so a 1-ulp
    ln() difference between engines cannot reorder the cut.

    100-TB plan shape: t12's audited two-scan plan, plus one scan-side
    key projection and a TakeOrderedAndProject — per-task bottom-k
    heaps, no global sort, no extra shuffle; the K-row result gets its
    rank window on a bounded frame. Compare p14 (uniform bottom-k):
    same physics, weighted membership."""
    from pyspark.sql.window import Window as W

    from sketchmlflink_spark.operators.textops import t12_dsir_importance

    w = t12_dsir_importance(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":gumbel"))),
                1, 6,
            ),
            16, 10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(16777216.0)
    key = zround(F.col("imp_logratio") - F.log(-F.log(u)), 6)
    top = (
        w.select(
            "doc_id", "lang", "n_tokens", "imp_logratio",
            key.alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(P15_K)
    )
    rank_w = W.orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(rank_w).cast("int").alias("sample_rank"),
        "doc_id", "lang", "n_tokens", "imp_logratio", "gumbel_key",
    )


def _wire_p15_oracle() -> None:
    from sketchmlflink_spark.operators.textops import T12_ORACLE
    from sketchmlflink_spark.registry import _REGISTRY

    _REGISTRY["p15_dsir_resample"].oracle = P15_ORACLE.format(t12=T12_ORACLE)


_wire_p15_oracle()


# --------------------------------------------------------------------------
# p16 — overlapping-window chunking (context-window manifest).
# --------------------------------------------------------------------------
P16_CHUNK = 32   # tokens per chunk (a stand-in for the model context)
P16_STRIDE = 24  # chunk start stride -> 8-token overlap between chunks


@register(
    "p16_overlap_chunking",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) <= {P16_CHUNK} THEN 1
              ELSE 1 + (len(tk) - {P16_CHUNK} + {P16_STRIDE} - 1) // {P16_STRIDE}
         END AS n_chunks
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
        FROM documents)
  WHERE len(tk) > 0
),
chunks AS (
  SELECT doc_id, n, unnest(range(0, n_chunks)) AS chunk_idx FROM sized
)
SELECT c.doc_id,
       CAST(c.chunk_idx AS BIGINT)              AS chunk_idx,
       CAST(c.chunk_idx * {P16_STRIDE} AS BIGINT) AS tok_start,
       CAST(least({P16_CHUNK}, c.n - c.chunk_idx * {P16_STRIDE}) AS BIGINT)
                                                 AS n_tok,
       md5(array_to_string(
           s.tk[c.chunk_idx * {P16_STRIDE} + 1 :
                c.chunk_idx * {P16_STRIDE}
                + least({P16_CHUNK}, c.n - c.chunk_idx * {P16_STRIDE})],
           ' ')) AS chunk_digest
FROM chunks c JOIN sized s USING (doc_id)
""",
    tags=("pipeline", "chunking", "training-sequences"),
)
def p16_overlap_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap: every document is cut into
    CHUNK-token windows starting every STRIDE tokens (the standard
    sliding-window prep for pretraining/RAG corpora — the overlap keeps
    boundary-spanning text intact in at least one chunk). Emits one
    manifest row per chunk: provenance (doc_id, chunk_idx, tok_start,
    n_tok) plus the md5 digest of the chunk text, hash-matched against
    the oracle's 1-based list-slice replay.

    Chunk-count rule (integer-exact on both engines, no float ceil):
    n_chunks = 1 if n <= CHUNK else 1 + (n - CHUNK + STRIDE - 1) div
    STRIDE — the last chunk always ends exactly at the document's last
    token and no chunk is fully contained in its predecessor.

    Scale notes: pure scan-side row expansion — tokenize, sequence(),
    explode, slice, md5 all inside one WholeStageCodegen span over the
    documents scan; ZERO shuffles and no state (the ~1.6x row expansion
    is the output itself). At 100 TB this is the ideal shape: each task
    chunks its own split and writes; nothing crosses the network."""
    docs = t(spark, sf_dir, "documents")
    n = F.size("tk")
    n_chunks = F.when(n <= P16_CHUNK, F.lit(1)).otherwise(
        F.expr(f"1 + ((size(tk) - {P16_CHUNK} + {P16_STRIDE} - 1) div {P16_STRIDE})")
    )
    tok_start = (F.col("chunk_idx") * P16_STRIDE).cast("long")
    n_tok = F.least(F.lit(P16_CHUNK), F.col("n") - F.col("chunk_idx") * P16_STRIDE)
    chunk = F.slice("tk", (F.col("chunk_idx") * P16_STRIDE + 1).cast("int"), n_tok.cast("int"))
    return (
        docs.select("doc_id", T.tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            "tk",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            tok_start.alias("tok_start"),
            n_tok.cast("long").alias("n_tok"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_digest"),
        )
    )


# --------------------------------------------------------------------------
# p17 — ORC interchange roundtrip (the second columnar lake format).
# --------------------------------------------------------------------------
@register(
    "p17_orc_interchange_roundtrip",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)                          AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT)           AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S')            AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S')            AS last_ts
FROM events
GROUP BY event_type
""",
    tags=("pipeline", "sink", "orc", "roundtrip"),
)
def p17_orc_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: the events table written to an event_type-
    partitioned ORC dataset (the lake format Hive/Trino deployments
    standardize on), read back through the ORC reader, and audited per
    type — counts, distinct users, exact DECIMAL value sums, and
    formatted first/last timestamps all hash-match the oracle computed
    from the ORIGINAL parquet, so the format hop preserves longs,
    doubles, strings, and timestamp instants bit-for-bit.

    Scale notes: same write discipline as p04 — repartition on the
    partition column so each type's directory is written by the tasks
    owning that key (type cardinality is the fan-out, so no st15-style
    serial-commit pathology), maxRecordsPerFile caps file size, and the
    read-back aggregate prunes to 4 of 6 columns at the ORC scan."""
    ev = t(spark, sf_dir, "events")
    # the returned frame stays lazy, so its plan still shows the ORC
    # scan with pruned columns (plan-locked)
    out_dir = scratch_dir("orc_events_")
    (
        ev.repartition("event_type")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy("event_type")
        .orc(out_dir)
    )
    back = spark.read.orc(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )
