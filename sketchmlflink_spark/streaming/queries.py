"""Streaming registry entries (M5): each runs a real Structured
Streaming query (file source → watermark → stateful op) driven to
completion with Trigger.AvailableNow, returning the final result as a
batch DataFrame. Windowed/sessionized/stateful results are exact and
deterministic, so they stay in the driver's hash-checked oracle set —
the streaming engine must agree with DuckDB's batch answer on the same
events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchmlflink_spark.registry import register
from sketchmlflink_spark.scratch import scratch_dir, stream_dir_for
from sketchmlflink_spark.streaming import pipelines as P


# --------------------------------------------------------------------------
# st01 — watermarked tumbling-window aggregation
# --------------------------------------------------------------------------
@register(
    "st01_stream_hourly_counts",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window-agg"),
)
def st01_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window × event_type over the streamed events file;
    complete-mode flush makes the bounded replay equal the batch answer."""
    out = P.run_to_batch(P.hourly_counts(P.events_stream(spark, sf_dir)))
    return out.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


# --------------------------------------------------------------------------
# st02 — sliding-window aggregation (every event in exactly 2 windows)
# --------------------------------------------------------------------------
@register(
    "st02_stream_sliding_stats",
    oracle="""
WITH x AS (
    SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w0, value FROM events
), w AS (
    SELECT w0                        AS wstart, value FROM x
    UNION ALL
    SELECT w0 - INTERVAL 30 MINUTE   AS wstart, value FROM x
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS value_avg
FROM w
GROUP BY 1
""",
    tags=("streaming", "sliding-window"),
)
def st02_stream_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (1h, 30min) window stats; the oracle replicates the
    assign-to-two-windows semantics with a shifted UNION ALL."""
    out = P.run_to_batch(P.sliding_value_stats(P.events_stream(spark, sf_dir)))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
        "value_avg",
    )


# --------------------------------------------------------------------------
# st03 — streaming dedup (dropDuplicates state) + aggregation
# --------------------------------------------------------------------------
@register(
    "st03_stream_dedup_counts",
    oracle="""
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_events
FROM events
GROUP BY event_type
""",
    tags=("streaming", "dedup"),
)
def st03_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates(event_id) in the state store, then per-type counts."""
    return P.run_to_batch(P.dedup_counts(P.events_stream(spark, sf_dir)))


# --------------------------------------------------------------------------
# st04 — session windows (gap 30 min) per user
# --------------------------------------------------------------------------
@register(
    "st04_stream_sessions",
    # The island-numbering cumulative sum MUST accumulate in the same
    # total order the lag was computed in (ts, event_id) — the earlier
    # ORDER BY ts, new_s put a tied-timestamp row BEFORE the session
    # opener it belongs to, assigning it to the previous island. Benign
    # on uniform fixtures (no same-user ts ties); found by the hot-user
    # skew fixture (bin/make_sf.py --skew), where user 0 absorbs rows
    # from many original users and tied timestamps are common.
    oracle="""
WITH o AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT)               AS n_in_session
FROM s
GROUP BY user_id, sid
""",
    tags=("streaming", "session-window"),
)
def st04_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(gap=30min) per user; the oracle is the classic
    gaps-and-islands rewrite (new session when gap >= 30 min, matching
    Spark's half-open [start, last+gap) merge rule; tied timestamps
    break by event_id in both window orders so island numbering is
    deterministic — see the oracle comment for the skew-found bug)."""
    return P.run_to_batch(P.sessionize(P.events_stream(spark, sf_dir)))


# --------------------------------------------------------------------------
# st05 — custom stateful operator (applyInPandasWithState)
# --------------------------------------------------------------------------
@register(
    "st05_stream_value_profile",
    oracle="""
SELECT event_type,
       CAST(count(value) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       min(value)                   AS value_min,
       max(value)                   AS value_max
FROM events
GROUP BY event_type
""",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def st05_stream_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact running per-type value profile kept in the state store by a
    custom applyInPandasWithState operator. foreachBatch appends each
    micro-batch's emissions (tagged with the epoch id) to a parquet
    spill dir EXECUTOR-side — no driver collect anywhere in the path
    (VERDICT r3 "what's wrong" #2) — then the final profile per key is
    the max-epoch emission, selected relationally."""
    from pyspark.sql.window import Window

    out_dir = scratch_dir("st05_emissions_")
    P.run_foreach_batch(
        P.value_profile_by_type(P.events_stream(spark, sf_dir)),
        lambda bdf, eid: bdf.withColumn("_epoch", F.lit(int(eid)))
        .write.mode("append")
        .parquet(out_dir),
    )
    emitted = spark.read.parquet(out_dir)
    last = Window.partitionBy("event_type").orderBy(F.col("_epoch").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n", "value_sum", "value_min", "value_max")
    )


# --------------------------------------------------------------------------
# st07 — sketch-typed windowed aggregation (HLL + approximate median)
# --------------------------------------------------------------------------
@register(
    "st07_stream_sketch_profile",
    oracle=None,  # approximate estimators; tolerance bands in tests/test_sketch_aggs.py
    tags=("streaming", "sketch", "hll", "percentile"),
)
def st07_stream_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window: HLL++ distinct users + approx p50 of value —
    fixed-size sketch state per window (the streaming face of the
    engine's sketch identity). Rows-only by contract: HLL++/quantile-
    summary estimates aren't ANSI-SQL-reproducible; the error bands vs
    exact are pytest-pinned."""
    out = P.run_to_batch(P.sketch_profile(P.events_stream(spark, sf_dir)))
    return out.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n_events",
        "approx_users",
        "p50_value",
    )


# --------------------------------------------------------------------------
# st08 — stream-stream interval join (watermark-bounded join state)
# --------------------------------------------------------------------------
@register(
    "st08_stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       c.user_id  AS user_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events c
JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click'
 AND v.event_type = 'view'
 AND v.ts <= c.ts
 AND v.ts > c.ts - INTERVAL 3 HOUR
""",
    tags=("streaming", "stream-stream-join"),
    skew_guard_reason=(
        "a 30%-hot key puts its whole lifetime in ONE stream-stream "
        "state task (>1500 s at sf1skew, measured r8; AQE/salting cannot "
        "reach streaming join state) — st22 is the quarantine fix and "
        "runs the identical oracle green on the same fixture"
    ),
)
def st08_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream self-join (clicks × views ≤ 3 h apart, same user): exact and deterministic, so the streaming engine
    must hash-match DuckDB's batch interval join — the strongest check a
    stream-stream join can get."""
    ev = P.events_stream(spark, sf_dir)
    return P.run_to_batch(P.click_view_interval_join(ev), output_mode="append")


# --------------------------------------------------------------------------
# st22 — st08 under hot-key quarantine (the skew-proof stream-stream join)
# --------------------------------------------------------------------------
@register(
    "st22_stream_interval_join_quarantine",
    oracle="""
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       c.user_id  AS user_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events c
JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click'
 AND v.event_type = 'view'
 AND v.ts <= c.ts
 AND v.ts > c.ts - INTERVAL 3 HOUR
""",
    tags=("streaming", "stream-stream-join", "skew", "quarantine"),
)
def st22_stream_interval_join_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st08's interval join with hot-key quarantine — the 100-TB answer
    to the limitation the round-8 skew sweep measured: a 30%-hot user
    puts its whole lifetime into ONE stream-stream state task (>1500 s
    at sf1skew where the batch join takes ~40 s), and neither AQE nor
    salting reaches inside streaming join state. A cheap exact batch
    census quarantines users above 1% of events; the cold tail streams
    through the normal watermarked join, the hot keys run the identical
    join as a batch pass bucketed by (user, 3h block). The union is the
    exact same pair set, so st08's hash oracle applies unchanged; on a
    uniform fixture the census is empty and this IS st08 plus one cheap
    scan."""
    from sketchmlflink_spark.sources.tables import load_table

    ev_batch = load_table(spark, sf_dir, "events")
    hot = P.hot_user_census(ev_batch)
    ev = P.events_stream(spark, sf_dir)
    cold = ev.where(~F.col("user_id").isin(hot)) if hot else ev
    cold_out = P.run_to_batch(P.click_view_interval_join(cold), output_mode="append")
    if not hot:
        return cold_out
    hot_out = P.bucketed_click_view_join(ev_batch.where(F.col("user_id").isin(hot)))
    return cold_out.unionByName(hot_out)


# --------------------------------------------------------------------------
# st23 — st22 under the PRIOR-EPOCH census (the production census mode)
# --------------------------------------------------------------------------
@register(
    "st23_epoch_census_quarantine_join",
    oracle="""
SELECT c.event_id AS click_id,
       v.event_id AS view_id,
       c.user_id  AS user_id,
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events c
JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click'
 AND v.event_type = 'view'
 AND v.ts <= c.ts
 AND v.ts > c.ts - INTERVAL 3 HOUR
""",
    tags=("streaming", "stream-stream-join", "skew", "quarantine", "epoch-census"),
)
def st23_epoch_census_quarantine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st22 with the census a continuous deployment actually runs: each
    epoch's hot set is the PREVIOUS epoch's census (epoch 0 bootstraps
    with its own — see epoch_hot_assignments), so a key can cross the
    threshold mid-stream and change assignment at an epoch boundary.
    The two seams that transition opens (a newly-hot key's lookback
    views, a newly-cold key's missing stream state) are closed by
    bounded batch passes — see pipelines.epoch_quarantine_interval_join.
    Exactness is the point: the output is st08's pair set regardless of
    which keys each epoch quarantines, so the identical hash oracle
    applies (VERDICT r8 item 3)."""
    return P.epoch_quarantine_interval_join(spark, sf_dir, n_epochs=3)


# --------------------------------------------------------------------------
# st06 — foreachBatch incremental SGD (M5 training glue)
# --------------------------------------------------------------------------
def _incremental_sgd_state(spark: SparkSession, sf_dir: str) -> dict:
    """Shared st06/st06a trainer run: stream the embeddings file and
    train incrementally (one epoch per micro-batch, warm-started).
    Returns the driver-held final state dict."""
    import os

    from sketchmlflink_spark.ml_queries import EMBED_DIM, _training_df

    emb_schema = "vec_id long, embedding array<float>"
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    n_parts = P._stream_partitions_for(spark, emb_path)
    stream = (
        spark.readStream.schema(emb_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(stream_dir_for(sf_dir, "embeddings"))
    )
    P._set_stream_partitions_hint(n_parts)  # publish only on a successful build
    return P.incremental_sgd_driver(
        stream, lambda bdf: _training_df(spark, sf_dir, emb=bdf), EMBED_DIM
    )


@register(
    "st06_stream_incremental_sgd",
    oracle=None,  # iterative training is not ANSI-SQL-expressible; rows-only
    tags=("streaming", "ml", "foreachBatch"),
)
def st06_stream_incremental_sgd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental model training: stream the embeddings-derived
    training frame; each micro-batch warm-starts from the previous
    model and runs one epoch (ml/sgd.train with init weights). Emits
    one metrics row (final loss + weight norm) — convergence asserted
    in tests/test_streaming.py; the MODEL itself is hash-oracled by the
    st06a twin below."""
    import numpy as np

    state = _incremental_sgd_state(spark, sf_dir)
    return spark.createDataFrame(
        [
            {
                "batches": state["batches"],
                "rows_seen": state["n"],
                "final_loss": float(round(state["loss"], 6)) if state["loss"] is not None else None,
                "weight_norm": float(round(float(np.linalg.norm(state["w"])), 6)),
                "intercept": float(round(state["b"], 6)),
            }
        ],
        schema="batches long, rows_seen long, final_loss double, weight_norm double, intercept double",
    )


# --------------------------------------------------------------------------
# st06a — the incremental trainer's MODEL, hash-oracled (VERDICT r10
# item 5: st06's metrics row stays rows-only, but the final weights are
# deterministic and deserve a cross-engine proof). The registry stream
# is one symlinked file → exactly one micro-batch → one warm-started
# full-batch epoch from zeros with η = step/√1, whose closed form is
# ANSI-SQL: w_j = η·Σ(y_i·x_ij)/n and b = η·ȳ (residual at w=0 is −y;
# dim 64 < auto_fallback_nnz so the codec ships exact floats — no
# quantization between the engine's epoch and the algebra). Weights are
# emitted on the 1e-6 grid (s05/d11's int-grid discipline). Multi-batch
# warm-start semantics stay pinned by tests/test_streaming.py, which
# splits the file and asserts batch-arm parity on the raw model.
# --------------------------------------------------------------------------
def _st06a_oracle() -> str:
    from sketchmlflink_spark.ml_queries import (
        EMBED_DIM,
        FIXED_INTERCEPT,
        FIXED_WEIGHTS,
    )

    eta = P.INCREMENTAL_SGD_STEP  # schedule η₀/√t at t=1
    return f"""
WITH tr AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x,
         list_dot_product(CAST(embedding AS DOUBLE[]), {FIXED_WEIGHTS}::DOUBLE[])
           + {FIXED_INTERCEPT}
           + ((vec_id * 2654435761) % 1000 - 500) / 50000.0 AS y
  FROM embeddings
),
g AS MATERIALIZED (
  SELECT i AS dim_idx, sum(y * x[i + 1]) AS s, count(*) AS n
  FROM tr, unnest(range({EMBED_DIM})) u(i)
  GROUP BY i
)
SELECT CAST(dim_idx AS BIGINT) AS dim_idx,
       CAST(floor({eta} * s / n * 1000000 + 0.5) AS BIGINT) AS weight_q
FROM g
UNION ALL
SELECT CAST(-1 AS BIGINT),
       CAST(floor({eta} * (SELECT avg(y) FROM tr) * 1000000 + 0.5) AS BIGINT)
"""


@register(
    "st06a_stream_sgd_weights",
    oracle=_st06a_oracle(),
    tags=("streaming", "ml", "foreachBatch", "model-audit"),
)
def st06a_stream_sgd_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The st06 incremental trainer's final model as (dim_idx, weight_q)
    rows on the s05/d11 int grid — floor(w·1e6 + 0.5), deterministic
    IEEE on both engines, no round()-semantics seam — intercept at
    dim_idx = −1. Runs the identical streaming foreachBatch path as
    st06; the hash check proves the actual trained weights, not a
    norm."""
    import math

    state = _incremental_sgd_state(spark, sf_dir)
    rows = [
        {"dim_idx": j, "weight_q": int(math.floor(float(wj) * 1e6 + 0.5))}
        for j, wj in enumerate(state["w"])
    ] + [{"dim_idx": -1, "weight_q": int(math.floor(state["b"] * 1e6 + 0.5))}]
    return spark.createDataFrame(rows, schema="dim_idx long, weight_q long")


# --------------------------------------------------------------------------
# st09 — streaming JSONL corpus intake with quarantine buckets
# --------------------------------------------------------------------------
@register(
    "st09_stream_jsonl_ingest",
    oracle=f"""
SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
UNION ALL
SELECT '__corrupt__' AS bucket, CAST({P.N_CORRUPT_LINES} AS BIGINT) AS n_docs
""",
    tags=("streaming", "jsonl", "ingest", "quarantine"),
)
def st09_stream_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus intake: the documents table replayed as a JSONL
    drop directory (plus deterministic torn lines), parsed in-stream
    with the batch reader's schema/quarantine contract, counted per
    language — the malformed lines must land in '__corrupt__', and the
    clean counts must equal the batch answer on the same table."""
    parsed = P.documents_jsonl_stream(spark, sf_dir)
    return P.run_to_batch(P.jsonl_ingest_counts(parsed))


# --------------------------------------------------------------------------
# st10 — stream-static dimension join (enrichment against customer)
# --------------------------------------------------------------------------
@register(
    "st10_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
    tags=("streaming", "stream-static-join", "enrichment"),
)
def st10_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched with the static customer dimension
    (user_id → market segment) via a per-micro-batch broadcast join,
    aggregated per segment — the side-input pattern every event
    pipeline needs; hash-matches the batch join on the same data."""
    from sketchmlflink_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    out = P.run_to_batch(P.static_segment_counts(P.events_stream(spark, sf_dir), dim))
    return out


# --------------------------------------------------------------------------
# st11 — streaming quality gate over the JSONL intake (t06's twin)
# --------------------------------------------------------------------------
def _st11_oracle() -> str:
    from sketchmlflink_spark.functions import text as T
    from sketchmlflink_spark.operators.textops import (
        QF_MIN_DISTINCT,
        QF_MIN_STOPWORD,
        QF_MIN_TOKENS,
        QF_TOKEN_LEN_HI,
        QF_TOKEN_LEN_LO,
        _duck_tokens,
    )

    return f"""
WITH sig AS (
    SELECT lang,
           len(tk)                                                   AS n_tokens,
           len(list_distinct(tk)) * 1.0 / len(tk)                    AS dr,
           len(list_filter(tk, x -> x IN {T.EN_STOPWORDS!r})) * 1.0
             / len(tk)                                               AS sr,
           list_sum(list_transform(tk, x -> length(x))) * 1.0
             / len(tk)                                               AS atl
    FROM (SELECT lang, {_duck_tokens()} AS tk FROM documents)
    WHERE len(tk) > 0
)
SELECT lang,
       coalesce(
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
         CASE WHEN dr < {QF_MIN_DISTINCT} THEN 'repetitive' END,
         CASE WHEN sr < {QF_MIN_STOPWORD} THEN 'low_stopword' END,
         CASE WHEN atl < {QF_TOKEN_LEN_LO} OR atl > {QF_TOKEN_LEN_HI}
              THEN 'token_len' END,
         'kept') AS verdict,
       CAST(count(*) AS BIGINT) AS n_docs
FROM sig
GROUP BY 1, 2
"""


@register(
    "st11_stream_quality_gate",
    oracle=_st11_oracle(),
    tags=("streaming", "quality", "gate"),
)
def st11_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t06 quality gate applied IN-STREAM to the JSONL corpus intake:
    torn lines quarantine upstream (st09 contract), every clean document
    gets a first-failing-rule verdict, and (lang, verdict) counts roll up
    — the drop-rate dashboard a streaming ingestion pipeline watches.
    Stateless row projection + one tiny count state; hash-matches the
    batch rule stack on the same table."""
    parsed = P.documents_jsonl_stream(spark, sf_dir)
    return P.run_to_batch(P.quality_gate_counts(parsed))


# --------------------------------------------------------------------------
# st12 — streaming span-level dedup (d10's twin over the JSONL intake)
# --------------------------------------------------------------------------
def _st12_oracle() -> str:
    from sketchmlflink_spark.operators.dedup import SPAN_CHUNK_WORDS as K

    return f"""
WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
c AS (
  SELECT array_to_string(words[i*{K}+1 : i*{K}+{K}], ' ') AS chunk
  FROM w, unnest(range(0, len(words)//{K})) AS u(i)
)
SELECT CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct_spans FROM c
"""


@register(
    "st12_stream_span_dedup",
    oracle=_st12_oracle(),
    tags=("streaming", "dedup", "span"),
)
def st12_stream_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup IN-STREAM: every arriving document's word spans
    go through dropDuplicates state on their md5 digest, so the count of
    surviving spans equals the batch distinct-span count (d10's keeper
    set) — the shape of a streaming C4 span filter. One stateful dedup +
    one tiny count; digest-only state."""
    parsed = P.documents_jsonl_stream(spark, sf_dir)
    return P.run_to_batch(P.span_dedup_stats(parsed))


# --------------------------------------------------------------------------
# st13 — streaming decontamination (d12 in-stream; same oracle)
# --------------------------------------------------------------------------
def _st13_oracle() -> str:
    # identical semantics to the batch d12 — streaming execution, same SQL
    from sketchmlflink_spark.operators.dedup import D12_ORACLE

    return D12_ORACLE


@register(
    "st13_stream_decontaminate",
    oracle=_st13_oracle(),
    tags=("streaming", "decontamination", "span-overlap"),
)
def st13_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d12's train-vs-eval span decontamination executed IN-STREAM: the
    held-out eval docs (doc_id < DECON_EVAL_DOCS) reduce batch-side to a
    broadcast digest set, and every document arriving on the JSONL
    intake is probed scan-side as it lands — how a production pipeline
    decontaminates at ingest time instead of with a post-hoc scan. The
    streamed answer hash-matches the batch d12 oracle on the same
    corpus (filtered to streamed train docs)."""
    from sketchmlflink_spark.operators.dedup import DECON_EVAL_DOCS, span_chunks
    from sketchmlflink_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < DECON_EVAL_DOCS)
        .select(F.explode(span_chunks("text")).alias("chunk"))
        .select(F.md5("chunk").alias("digest"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    parsed = P.documents_jsonl_stream(spark, sf_dir)
    out = P.run_to_batch(P.decontaminate_stream(parsed, ev))
    return out.where(F.col("doc_id") >= DECON_EVAL_DOCS)


# --------------------------------------------------------------------------
# st14 — streaming trending top-k (windowed counts → per-window rank)
# --------------------------------------------------------------------------
@register(
    "st14_stream_trending_topk",
    oracle="""
WITH c AS (
    SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(rnk AS INT)  AS rank
FROM (
    SELECT h, event_type, n,
           row_number() OVER (PARTITION BY h ORDER BY n DESC, event_type) AS rnk
    FROM c
)
WHERE rnk <= 3
""",
    tags=("streaming", "window-agg", "topk"),
)
def st14_stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: top-3 event types per tumbling hour. The
    heavy windowed count runs on the STREAM (st01's watermarked state);
    the per-window rank is a batch projection over the tiny flushed
    result — Structured Streaming forbids stacking a rank on an
    in-flight aggregation outside append mode, and ranking
    (windows × types) rows batch-side costs nothing at any scale.
    Deterministic tiebreak (count desc, type asc) keeps it in the
    hash-checked set."""
    from pyspark.sql.window import Window

    agg = P.run_to_batch(P.hourly_counts(P.events_stream(spark, sf_dir)))
    w = Window.partitionBy("hour_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            F.col("rnk").cast("int").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# st15 — streaming partitioned parquet SINK (foreachBatch, idempotent
# per-epoch overwrite) + read-back audit.
# --------------------------------------------------------------------------
@register(
    "st15_stream_partitioned_sink",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "sink", "foreachBatch", "partitioned"),
)
def st15_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → lake: the event stream lands in an hour-partitioned
    parquet dataset via foreachBatch, one PLAIN-overwrite directory per
    epoch (``_epoch=<e>/hour_part=<h>/``): a RETRIED micro-batch
    rewrites exactly its own epoch directory (idempotent under retries,
    the exactly-once-by-overwrite recipe — and it heals partial crashed
    attempts completely, see land_partitioned) while DISTINCT epochs
    never clobber each other — so the sink stays correct even when the
    file source splits an hour's input across micro-batches (multi-file
    dirs, maxFilesPerTrigger; ADVICE r3). The returned frame is the
    READ-BACK per-(hour, type) count audit, hash-matched against the
    batch oracle — proving the sink landed every event exactly once.

    Scale notes: each micro-batch repartitions by the partition column
    before writing so a 1000-task batch doesn't open a file per task
    per hour; partition dirs mean downstream hourly consumers prune by
    directory. State: none beyond the file-source log — the sink IS the
    state."""
    out_dir = scratch_dir("st15_sink_")
    ev = P.events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH").alias("hour_part"),
    )

    P.run_foreach_batch(
        ev, lambda bdf, eid: P.land_partitioned(bdf, eid, out_dir), output_mode="append"
    )
    # the audit lists all ~720 (epoch, hour) partition dirs on the
    # driver (parallelPartitionDiscovery.threshold in session.py)
    landed = spark.read.parquet(out_dir)
    return (
        landed.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# --------------------------------------------------------------------------
# st16 — streaming GLOBAL heavy hitters with bounded state (sk05's
# streaming twin: per-micro-batch Misra-Gries summaries landed as
# epoch-partitioned state, merged relationally at read time).
# --------------------------------------------------------------------------
@register(
    "st16_stream_heavy_hitters",
    # Shares sk05's oracle: in the exact regime (k ≥ batch cardinality)
    # summed MG summaries equal exact counts whatever the micro-batch
    # split — the merge-soundness property proven for ANY partitioning
    # in tests/test_sketch_aggs.py::test_mg_merge_bound_any_partitioning.
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err_bound
FROM events
GROUP BY user_id
ORDER BY est_count DESC, user_id
LIMIT 20
""",
    tags=("streaming", "sketch", "heavyhitter", "misra-gries"),
)
def st16_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-N users: each micro-batch is compressed to a
    ≤ k-counter MG summary (mg_summaries on the batch frame) and landed
    in an _epoch-partitioned parquet state table via dynamic-partition
    overwrite — a RETRIED epoch rewrites exactly its own partition
    (idempotent, st15's recipe), and state grows as k·n_epochs summary
    rows, never as raw events. The final answer merges summary rows
    only (mg_merge_topn, shared with batch sk05) and must equal the
    batch oracle in the exact regime.

    This is the unbounded-stream answer to "who are the heaviest keys
    ever seen": windowed counts (st14) bound state by watermark
    eviction; here state is bounded by the SUMMARY size instead, so the
    aggregate spans the whole stream history."""
    from sketchmlflink_spark.operators.sketch_aggs import (
        SK05_K,
        SK05_TOPN,
        mg_merge_topn,
        mg_summaries,
    )

    # fresh state per build: epochs from an earlier build of this same
    # query would otherwise double-count
    state_dir = scratch_dir("st16_state_")

    def land_summaries(bdf: DataFrame, eid: int) -> None:
        (
            mg_summaries(bdf, "user_id", SK05_K)
            .withColumn("_epoch", F.lit(int(eid)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(state_dir)
        )

    ev = P.events_stream(spark, sf_dir).select("user_id")
    P.run_foreach_batch(ev, land_summaries, output_mode="append")
    state = spark.read.parquet(state_dir).drop("_epoch")
    return mg_merge_topn(state, "user_id", SK05_TOPN)


# --------------------------------------------------------------------------
# st17 — streaming CDC upsert: foreachBatch latest-wins MERGE into a
# bucket-partitioned keyed table (the Delta-MERGE compaction pattern,
# expressed on plain parquet).
# --------------------------------------------------------------------------
ST17_BUCKETS = 16  # key-hash partitions of the state table
ST17_COLS = ["user_id", "ts", "event_type", "value", "event_id"]


def _latest_per_key(df: DataFrame) -> DataFrame:
    """Latest-wins per user_id (ts DESC, event_id DESC tiebreak)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_merge_batch(bdf: DataFrame, state_dir: str) -> None:
    """One MERGE step of the st17 upsert sink: fold a batch of change
    rows into the bucket-partitioned state table, latest-wins. Reads
    back only the buckets the batch touches (bounded ≤ ST17_BUCKETS
    driver-side list), rewrites only those partitions, and — because
    latest-wins merge is idempotent — replaying the same batch (a
    retried epoch) leaves the state bit-identical (pytest
    test_cdc_merge_retry_idempotent)."""
    import os

    sp = bdf.sparkSession
    batch = _latest_per_key(bdf.select(*ST17_COLS)).withColumn(
        "bucket", F.pmod(F.hash("user_id"), F.lit(ST17_BUCKETS))
    )
    if os.path.isdir(state_dir):
        touched = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        old = sp.read.parquet(state_dir).where(F.col("bucket").isin(touched))
        merged = _latest_per_key(old.unionByName(batch))
    else:
        merged = batch
    # materialize before overwriting the partitions being read
    merged = merged.repartition("bucket").localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(state_dir)
    )


@register(
    "st17_stream_cdc_upsert",
    oracle="""
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_event_type,
       round(value, 6) AS last_value
FROM (
    SELECT user_id, ts, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
""",
    tags=("streaming", "cdc", "upsert", "foreachBatch", "merge"),
)
def st17_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-data-capture materialization: the event stream
    is treated as an upsert feed keyed by user_id, and each micro-batch
    is MERGEd latest-wins (ts DESC, event_id DESC tiebreak) into a
    compacted per-key state table — the Delta/Hudi `MERGE INTO` recipe
    on plain parquet. Returns the final compacted table: one row per
    user with their latest event, hash-matched against the batch argmax.

    Scale + exactly-once mechanics: the state table is partitioned by
    ``bucket = pmod(hash(user_id), B)``, so a micro-batch (1) reads back
    ONLY the buckets its keys touch (partition pruning on the read),
    (2) shuffles only on the bucket column, and (3) dynamic-partition-
    overwrites only those buckets. Latest-wins merge is idempotent and
    associative, so a RETRIED epoch that re-merges the same rows
    converges to the same state — correctness does not depend on the
    file source's batch split (ADVICE r3 on st15 applies here too). The
    merged frame is localCheckpoint()ed before the write because the
    overwrite truncates the very partitions the plan is reading.
    State size is O(distinct keys), never O(events)."""
    import os

    # cdc_merge_batch reads back the state table once it exists, so it
    # starts as a path that does not
    state_dir = os.path.join(scratch_dir("st17_state_"), "state")

    ev = P.events_stream(spark, sf_dir).select(*ST17_COLS)
    P.run_foreach_batch(
        ev, lambda bdf, eid: cdc_merge_batch(bdf, state_dir), output_mode="append"
    )
    return (
        spark.read.parquet(state_dir)
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# st18 — streaming conversion funnel (q34 in-stream; same oracle)
# --------------------------------------------------------------------------
def _st18_oracle() -> str:
    # identical semantics to batch q34 — streaming execution, same SQL
    from sketchmlflink_spark.operators.relational import Q34_ORACLE

    return Q34_ORACLE


@register(
    "st18_stream_funnel",
    oracle=_st18_oracle(),
    tags=("streaming", "stateful", "funnel", "sequence"),
)
def st18_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q34's ordered view→click→purchase funnel as a STREAMING stateful
    operator: per-user stage timestamps live in the state store
    (applyInPandasWithState, (3 longs)/user — the sequence-detection
    pattern MATCH_RECOGNIZE engines special-case), updated per trigger;
    emissions spill to parquet EXECUTOR-side via foreachBatch (st05's
    no-driver-collect discipline), and the corpus-level funnel summary
    is the batch rollup of each user's last emission. Hash-matches the
    batch q34 oracle: the state machine and the chained running-min
    windows compute the same fixpoint.

    Scale: state is 24 bytes/user; each trigger shuffles only the
    users present in the micro-batch. The summary re-read costs one
    scan of a users-sized parquet dir, not of the event stream."""
    from pyspark.sql.window import Window

    out_dir = scratch_dir("st18_emissions_")
    P.run_foreach_batch(
        P.funnel_stages(
            P.events_stream(spark, sf_dir, compute_heavy_state=True)
        ),
        lambda bdf, eid: bdf.withColumn("_epoch", F.lit(int(eid)))
        .write.mode("append")
        .parquet(out_dir),
    )
    emitted = spark.read.parquet(out_dir)
    last = Window.partitionBy("user_id").orderBy(F.col("_epoch").desc())
    per_user = (
        emitted.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view_us").alias("n_viewed"),
        F.count("t_click_us").alias("n_clicked_after_view"),
        F.count("t_purchase_us").alias("n_purchased_after_click"),
        F.round(
            F.sum(F.col("t_click_us") - F.col("t_view_us")).cast("double")
            / F.count("t_click_us"),
            4,
        ).alias("avg_view_to_click_us"),
        F.round(
            F.sum(F.col("t_purchase_us") - F.col("t_click_us")).cast("double")
            / F.count("t_purchase_us"),
            4,
        ).alias("avg_click_to_purchase_us"),
    )


# --------------------------------------------------------------------------
# st19 — streaming bottom-k sample (p14's twin over the JSONL intake):
# the union-mergeability of bottom-k made executable — per-batch local
# bottom-k summaries land in epoch-partitioned state, and merging the
# summaries IS the global sample, bit-for-bit equal to the batch answer.
# --------------------------------------------------------------------------
@register(
    "st19_stream_bottomk_sample",
    # Shares p14's oracle verbatim: bottom-k of a union equals bottom-k
    # of the merged per-batch bottom-k's, for ANY micro-batch split.
    oracle=None,  # set below to P14_ORACLE after import (avoids a cycle)
    tags=("streaming", "sample", "bottom-k"),
)
def st19_stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain p14's deterministic 500-doc corpus sample INCREMENTALLY
    over the streaming JSONL intake: each micro-batch is collapsed to
    its local bottom-k of md5(doc_id) (≤ k narrow rows, text dropped
    scan-side), landed in an _epoch-partitioned parquet state table via
    dynamic-partition overwrite (st16's idempotent-retry recipe),
    and the final answer is the bottom-k OF THE SUMMARIES — exactly the
    batch sample, whatever the batch split. State is bounded by
    k·n_epochs summary rows, never by stream volume; torn intake lines
    quarantine upstream (st09 contract) and never touch the sample."""
    from sketchmlflink_spark.operators.pipeline import P14_K
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL

    state_dir = scratch_dir("st19_state_")

    def land_bottomk(bdf: DataFrame, eid: int) -> None:
        (
            bdf.orderBy("rank_digest")
            .limit(P14_K)
            .withColumn("_epoch", F.lit(int(eid)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(state_dir)
        )

    parsed = P.documents_jsonl_stream(spark, sf_dir)
    clean = (
        parsed.where(
            F.col(f"j.{CORRUPT_COL}").isNull() & F.col("j.doc_id").isNotNull()
        )
        .select(
            F.md5(F.col("j.doc_id").cast("string")).alias("rank_digest"),
            F.col("j.doc_id").alias("doc_id"),
            F.col("j.lang").alias("lang"),
            F.col("j.n_chars").alias("n_chars"),
        )
    )
    P.run_foreach_batch(clean, land_bottomk, output_mode="append")
    state = spark.read.parquet(state_dir).drop("_epoch")
    return state.orderBy("rank_digest").limit(P14_K)


def _wire_st19_oracle() -> None:
    from sketchmlflink_spark.operators.pipeline import P14_ORACLE
    from sketchmlflink_spark.registry import _REGISTRY

    _REGISTRY["st19_stream_bottomk_sample"].oracle = P14_ORACLE


_wire_st19_oracle()


# --------------------------------------------------------------------------
# st20 — late-data drop/merge audit (the watermark actually exercised).
# --------------------------------------------------------------------------
@register(
    "st20_stream_late_data_audit",
    # The oracle replays Spark's measured watermark timeline for the
    # three-batch late replay (pipelines.late_replay_stream_dir). Two
    # DISTINCT lags are in play (both measured, both pinned by
    # tests/test_streaming.py::test_watermark_lag_canary — a Spark
    # upgrade changing either fails there, not in the driver's hash):
    #   * eviction/emission wm for batch N = data through batch N-1
    #     (lag 1) -> wm_emit below = max(ALL on-time ts) - 1h;
    #   * LATE-INPUT FILTER for batch N = eviction wm of batch N-1,
    #     i.e. data through batch N-2 (lag 2) -> wm_drop below =
    #     max(batch-0 prefix ts ONLY) - 1h.
    # Timeline:
    #   batch 0  on-time prefix  (ts <= max(ts)-7d)   no wm in effect
    #   batch 1  on-time tail    filter wm none; end of batch 1 evicts
    #            windows closed under max(prefix)-1h
    #   batch 2  stragglers: dropped iff window_end <= wm_drop
    #            (= max(prefix ts) - 1h, the lag-2 filter), merged
    #            otherwise; final emission covers windows closed under
    #            wm_emit (= max(on-time ts) - 1h, the lag-1 eviction).
    oracle=f"""
WITH cut AS (SELECT max(ts) - INTERVAL {P.LATE_CUT_DAYS} DAY AS c FROM events),
wm_drop AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
  WHERE event_id % {P.LATE_MOD} <> 0 AND ts <= (SELECT c FROM cut)
),
wm_emit AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events
  WHERE event_id % {P.LATE_MOD} <> 0
),
kept AS (
  SELECT ts, event_id % {P.LATE_MOD} = 0 AS is_late FROM events
  WHERE event_id % {P.LATE_MOD} <> 0
     OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm_drop)
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_late_merged
FROM kept
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm_emit)
GROUP BY 1
""",
    tags=("streaming", "watermark", "late-data"),
)
def st20_stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting under a REAL out-of-order replay: every
    other streaming query here ingests the events table as one file →
    one micro-batch, so the watermark never actually drops anything.
    This one replays three files (on-time prefix, on-time tail, then
    the stragglers — every 20th event arriving hours-to-weeks late) in
    three micro-batches and hash-matches the surviving per-hour counts,
    plus a per-window count of stragglers the watermark let back in,
    against a batch oracle that encodes the engine's drop rule. At
    sf0.01: 117 stragglers merge into still-open windows, ~383 are
    dropped against finalized ones — both visible in the result.

    Scale notes: identical state story to st01 (per-window counters,
    watermark-bounded); the replay fixture is a bounded simulation of
    the unbounded feed. The audit column is scan-side arithmetic — no
    extra shuffle over the plain hourly count."""
    return P.run_to_batch(
        P.late_window_audit(
            P.replay_events_stream(spark, sf_dir, P.late_replay_stream_dir(spark, sf_dir))
        ),
        output_mode="append",
    )


# --------------------------------------------------------------------------
# st21 — exactly-once counts from an at-least-once feed
# (dropDuplicatesWithinWatermark under real redelivery).
# --------------------------------------------------------------------------
@register(
    "st21_stream_redelivery_dedup",
    # The oracle is the EXACT batch answer on the un-duplicated table:
    # that equality IS the claim. Batch-1 redeliveries are absorbed by
    # dropDuplicatesWithinWatermark's live state (the late-input filter
    # for batch 1 still carries NO watermark — the filter lags the data
    # by TWO batches, see test_watermark_lag_canary); batch-2
    # redeliveries of beyond-horizon events meet the lag-2 filter wm
    # (= max(batch-0 ts) - 1h, and batch 0 is the full table) and are
    # dropped as late input. Either failure mode (state miss or
    # late-drop miss) double-counts and breaks the hash.
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT)                          AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
""",
    tags=("streaming", "dedup", "exactly-once", "watermark"),
)
def st21_stream_redelivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once aggregation over an AT-LEAST-ONCE feed: the events
    table replayed with two redelivery waves (a broad duplicate sample
    while dedup state is live, then duplicates of already-expired OLD
    events), deduplicated with dropDuplicatesWithinWatermark(event_id)
    — the bounded-state dedup operator (plain dropDuplicates without
    the event-time key never expires state; WithinWatermark evicts a
    key once the watermark passes its event time + delay). The per-type
    counts and exact DECIMAL value sums hash-match the batch answer on
    the un-duplicated table — every redelivered row was absorbed
    exactly once, by state while live and by the late-input filter
    after expiry.

    Scale notes: dedup state is one row per event_id within the
    watermark horizon (the operator's reason to exist — at 100 TB/day
    an unbounded dedup state is a guaranteed OOM); the downstream
    per-type aggregate carries 5 rows. The replay fixture is a bounded
    simulation of the unbounded at-least-once feed."""
    events = P.replay_events_stream(spark, sf_dir, P.redelivery_stream_dir(spark, sf_dir))
    deduped = events.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )
    return P.run_to_batch(agg, output_mode="complete")
