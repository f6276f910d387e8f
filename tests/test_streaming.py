"""Streaming-specific behavior that the registry's single-file
AvailableNow runs don't exercise: state carried across multiple
triggers, and multi-batch incremental training converging like batch
training does.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from sketchmlflink_spark.streaming import pipelines as P
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def multi_file_events_dir(spark, tmp_path_factory):
    """events at sf0.001 split into 4 parquet files so maxFilesPerTrigger=1
    produces 4 micro-batches."""
    from sketchmlflink_spark.sources.tables import load_table

    d = str(tmp_path_factory.mktemp("events_multi"))
    ev = load_table(spark, SF_SMALL, "events")
    # long→micro ts already applied by load_table; write plain timestamps
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _streamed_events(spark, data_dir: str, per_trigger: int = 1):
    raw = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, event_type string, value double, props string")
        .format("parquet")
        .option("maxFilesPerTrigger", str(per_trigger))
        .load(data_dir)
    )
    return raw.withWatermark("ts", P.WATERMARK)


def test_stateful_profile_across_batches(spark, multi_file_events_dir):
    """applyInPandasWithState must accumulate across 4 triggers and the
    LAST emission per key must equal the batch groupBy answer."""
    from sketchmlflink_spark.sources.tables import load_table

    emissions: list = []
    P.run_foreach_batch(
        P.value_profile_by_type(_streamed_events(spark, multi_file_events_dir)),
        lambda bdf, eid: emissions.extend((eid, r) for r in bdf.collect()),
    )
    batch_ids = {eid for eid, _ in emissions}
    assert len(batch_ids) >= 2, "expected multiple micro-batches"
    last = {}
    for _eid, r in emissions:  # collected in trigger order
        last[r["event_type"]] = r

    expected = {
        r["event_type"]: r
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .collect()
    }
    assert set(last) == set(expected)
    for k, exp in expected.items():
        got = last[k]
        assert got["n"] == exp["n"], k
        assert got["value_sum"] == pytest.approx(exp["value_sum"], abs=1e-9), k
        assert got["value_min"] == exp["value_min"], k
        assert got["value_max"] == exp["value_max"], k


def test_windowed_counts_match_batch(spark, multi_file_events_dir):
    """Tumbling-window streaming agg over multiple triggers (complete
    mode) equals the batch groupBy."""
    from sketchmlflink_spark.sources.tables import load_table

    out = P.run_to_batch(P.hourly_counts(_streamed_events(spark, multi_file_events_dir)))
    got = {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_sum"])
        for r in out.collect()
    }
    exp = {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_sum"])
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .collect()
    }
    assert got == exp


def test_incremental_sgd_multi_batch_converges(spark, tmp_path):
    """foreachBatch incremental training over 4 micro-batches should
    reach a model close to the one-shot batch model on the same data."""
    from sketchmlflink_spark.config import SolverConfig
    from sketchmlflink_spark.ml import sgd
    from sketchmlflink_spark.ml_queries import EMBED_DIM, _training_df
    from sketchmlflink_spark.operators.relational import t

    d = str(tmp_path / "emb_multi")
    t(spark, SF_SMALL, "embeddings").repartition(4).write.mode("overwrite").parquet(d)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    state = {"w": np.zeros(EMBED_DIM), "b": 0.0, "batches": 0}

    def step(batch_df, _eid):
        if batch_df.isEmpty():
            return
        res = sgd.train(
            _training_df(spark, SF_SMALL, emb=batch_df),
            SolverConfig(iterations=2, step_size=0.5),
            dim=EMBED_DIM,
            init_weights=state["w"],
            init_intercept=state["b"],
            epoch_offset=state["batches"] * 2,
        )
        state["w"], state["b"] = res.weights, res.intercept
        state["batches"] += 1

    P.run_foreach_batch(stream, step, output_mode="append")
    assert state["batches"] >= 2

    full = sgd.train(
        _training_df(spark, SF_SMALL),
        SolverConfig(iterations=8, step_size=0.5),
        dim=EMBED_DIM,
    )
    # same data seen for 8 total epochs either way; incremental pass
    # should land in the same region (loose tolerance: different
    # ordering/schedule)
    denom = max(float(np.linalg.norm(full.weights)), 1e-9)
    rel = float(np.linalg.norm(state["w"] - full.weights)) / denom
    assert rel < 0.5, f"incremental model too far from batch model: rel={rel:.3f}"


def test_st15_sink_multi_batch_and_retry_safe(spark, tmp_path):
    """The (hour_part, _epoch) overwrite grain: two epochs landing rows
    in the SAME hour coexist, and a retried epoch replaces only its own
    slice (ADVICE r3 — hour-grain overwrite dropped earlier batches)."""
    from sketchmlflink_spark.streaming.pipelines import land_partitioned

    out = str(tmp_path / "sink")
    schema = "event_id long, hour_part string, event_type string"
    b0 = spark.createDataFrame([(1, "2024-01-01-00", "a"), (2, "2024-01-01-01", "b")], schema)
    b1 = spark.createDataFrame([(3, "2024-01-01-00", "c")], schema)

    land_partitioned(b0, 0, out)
    land_partitioned(b1, 1, out)  # same hour 00 as epoch 0
    got = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3}  # multi-batch hour kept both epochs

    land_partitioned(b0, 0, out)  # retry of epoch 0: idempotent
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def _stream_from_dir(spark, d, schema):
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )


def test_st06_incremental_matches_batch_arm(spark, tmp_path):
    """Parity of the foreachBatch incremental trainer vs the batch arm
    (VERDICT r3 item 7). (a) Exact: one micro-batch == one batch epoch
    bit-for-bit (epoch_offset=0 continuity). (b) Multi-batch: three
    micro-batches (schedule steps t=1,2,3 via epoch_offset) land within
    a few percent of the batch arm's three full epochs on the same
    seeded linear data — mini-batch vs full-gradient steps, same
    schedule."""
    import numpy as np

    from sketchmlflink_spark.config import SolverConfig, SketchConfig
    from sketchmlflink_spark.ml import sgd
    from sketchmlflink_spark.streaming.pipelines import incremental_sgd_driver

    dim = 16
    rng = np.random.default_rng(11)
    w_star = rng.normal(size=dim)
    X = rng.normal(size=(600, dim))
    y = X @ w_star + 0.25
    rows = [
        (int(i), [float(v) for v in X[i]], float(y[i])) for i in range(len(y))
    ]
    df = spark.createDataFrame(rows, "vec_id long, features array<double>, label double")

    src = str(tmp_path / "train_parquet")
    df.repartition(3).write.parquet(src)

    schema = "vec_id long, features array<double>, label double"

    # (a) single micro-batch: exact parity with one batch epoch
    one = str(tmp_path / "one_file")
    df.coalesce(1).write.parquet(one)
    state1 = incremental_sgd_driver(
        _stream_from_dir(spark, one, schema), lambda b: b, dim, step_size=0.1
    )
    assert state1["batches"] == 1
    ref1 = sgd.train(df, SolverConfig(iterations=1, step_size=0.1), dim=dim)
    assert np.allclose(state1["w"], ref1.weights, rtol=1e-9, atol=1e-12)
    assert state1["b"] == pytest.approx(ref1.intercept, rel=1e-9)

    # (b) three micro-batches vs three batch epochs
    state3 = incremental_sgd_driver(
        _stream_from_dir(spark, src, schema), lambda b: b, dim, step_size=0.1
    )
    assert state3["batches"] == 3
    ref3 = sgd.train(df, SolverConfig(iterations=3, step_size=0.1), dim=dim)
    # same schedule trajectory, mini-batch noise only: weights close in
    # relative L2, and both models predict near-identically
    dist = float(np.linalg.norm(state3["w"] - ref3.weights))
    scale = float(np.linalg.norm(ref3.weights))
    assert dist / scale < 0.15, (dist, scale)
    assert state3["b"] == pytest.approx(ref3.intercept, rel=0.3, abs=0.05)


def test_st16_multi_epoch_heavy_hitters_match_batch_and_retry_safe(
    spark, multi_file_events_dir, tmp_path
):
    """st16's state recipe under REAL multi-batch ingestion: 4
    micro-batches each land an MG summary partition; the merged top-N
    equals the exact batch answer (merge soundness across epochs), and
    re-landing an epoch (simulated retry) changes nothing (idempotent
    dynamic overwrite)."""
    from pyspark.sql import functions as F

    from sketchmlflink_spark.operators.sketch_aggs import (
        SK05_K,
        mg_merge_topn,
        mg_summaries,
    )
    from sketchmlflink_spark.streaming.pipelines import run_foreach_batch

    state = str(tmp_path / "st16_state")
    seen_epochs = []
    epoch_rows = {}  # eid -> pandas capture, to replay an exact retry

    def land(bdf, eid):
        seen_epochs.append(int(eid))
        epoch_rows[int(eid)] = bdf.toPandas()
        bdf.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            mg_summaries(bdf, "user_id", SK05_K)
            .withColumn("_epoch", F.lit(int(eid)))
            .write.mode("overwrite")
            .partitionBy("_epoch")
            .parquet(state)
        )

    ev = _streamed_events(spark, multi_file_events_dir).select("user_id")
    run_foreach_batch(ev, land, output_mode="append")
    assert len(seen_epochs) >= 3, f"expected multi-batch ingestion, got {seen_epochs}"

    def topn():
        return [
            (r["user_id"], r["est_count"], r["err_bound"])
            for r in mg_merge_topn(
                spark.read.parquet(state).drop("_epoch"), "user_id", 20
            ).collect()
        ]

    exact = [
        (r["user_id"], r["n"], 0)
        for r in spark.read.parquet(multi_file_events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(20)
        .collect()
    ]
    got = topn()
    assert got == exact

    # retry epoch 0: re-land exactly the batch it processed — the
    # overwrite replaces that epoch's partition with identical content,
    # so the merged answer must not change
    e0 = seen_epochs[0]
    land(spark.createDataFrame(epoch_rows[e0]), e0)
    assert topn() == got


def test_st17_cdc_merge_multi_batch_and_retry_idempotent(spark, tmp_path):
    """The CDC upsert's two core claims, exercised directly on the merge
    helper: (1) folding the event stream in as multiple batches yields
    exactly the batch latest-per-key answer; (2) replaying a batch (a
    retried epoch after a sink failure) leaves the state unchanged —
    latest-wins merge is idempotent, so exactly-once does not depend on
    the micro-batch split."""
    from pyspark.sql.window import Window

    from sketchmlflink_spark.sources.tables import load_table
    from sketchmlflink_spark.streaming.queries import ST17_COLS, cdc_merge_batch

    state = str(tmp_path / "st17_state")
    ev = load_table(spark, SF_SMALL, "events").select(*ST17_COLS)
    # deterministic 3-way split by event_id (simulates 3 micro-batches,
    # keys deliberately straddle the batches)
    batches = [ev.where(F.pmod("event_id", F.lit(3)) == i) for i in range(3)]
    for b in batches:
        cdc_merge_batch(b, state)

    def snapshot():
        return sorted(
            tuple(r) for r in spark.read.parquet(state).drop("bucket").collect()
        )

    after = snapshot()
    # (2) retry: replay the LAST batch; state must be bit-identical
    cdc_merge_batch(batches[2], state)
    assert snapshot() == after
    # replay an EARLY batch (out-of-order retry): still unchanged,
    # because every key's stored row is already >= any row in batch 0
    cdc_merge_batch(batches[0], state)
    assert snapshot() == after
    # (1) equals the batch argmax on the full table
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = sorted(
        tuple(r)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
        .collect()
    )
    assert after == expect
    # state is one row per distinct key, not per event
    assert len(after) == ev.select("user_id").distinct().count()


def test_st20_late_replay_drops_and_merges(spark):
    """The late replay must actually exercise the watermark: some
    stragglers merge into still-open windows, the rest are dropped
    against finalized ones, and append mode emits each window exactly
    once. (Exact per-window values are hash-checked vs the DuckDB
    oracle by the sweep; this pins the behavioral invariants.)"""
    from sketchmlflink_spark.sources.tables import load_table
    from sketchmlflink_spark.streaming.queries import st20_stream_late_data_audit

    res = st20_stream_late_data_audit(spark, SF_SMALL).collect()
    total_events = load_table(spark, SF_SMALL, "events").count()

    hours = [r["hour_start"] for r in res]
    assert len(hours) == len(set(hours)), "append mode re-emitted a window"
    emitted = sum(r["n_events"] for r in res)
    merged = sum(r["n_late_merged"] for r in res)
    # stragglers for finalized windows were dropped -> emitted < total
    assert emitted < total_events
    # but the watermark horizon let recent stragglers back in
    assert merged > 0
    # drops only ever remove stragglers (1/LATE_MOD of events)
    assert emitted >= total_events - total_events // P.LATE_MOD


def test_st21_redelivery_feed_overcounts_without_dedup(spark):
    """st21's oracle equality is only meaningful if the feed really
    redelivers: the same replay aggregated WITHOUT the dedup operator
    must overcount (by the batch-1 sample at least — batch-2 old
    redeliveries are late-dropped by the watermark either way), and
    both redelivery files must be non-empty."""
    import os
    from sketchmlflink_spark.sources.tables import load_table
    from sketchmlflink_spark.streaming.queries import st21_stream_redelivery_dedup

    d = P.redelivery_stream_dir(spark, SF_SMALL)
    f1 = spark.read.parquet(os.path.join(d, "replay-001.parquet")).count()
    f2 = spark.read.parquet(os.path.join(d, "replay-002.parquet")).count()
    assert f1 > 0 and f2 > 0, (f1, f2)

    total_exact = load_table(spark, SF_SMALL, "events").count()
    raw = P.redelivered_events_stream(spark, SF_SMALL)
    nodedup = P.run_to_batch(
        raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        output_mode="complete",
    )
    overcounted = sum(r["n"] for r in nodedup.collect())
    assert overcounted > total_exact, (overcounted, total_exact)

    deduped = st21_stream_redelivery_dedup(spark, SF_SMALL)
    assert sum(r["n_events"] for r in deduped.collect()) == total_exact


def test_st20_straggler_accounting_partitions_exactly(spark):
    """Conservation law for the late replay: every straggler is either
    merged into an emitted window, dropped against an evicted window,
    or sitting in a never-emitted tail window — the three buckets must
    partition the straggler set exactly (computed from the same batch
    table the oracle uses)."""
    from sketchmlflink_spark.sources.tables import load_table
    from sketchmlflink_spark.streaming.queries import st20_stream_late_data_audit

    res = st20_stream_late_data_audit(spark, SF_SMALL).collect()
    merged = sum(r["n_late_merged"] for r in res)

    ev = load_table(spark, SF_SMALL, "events")
    cut = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {P.LATE_CUT_DAYS} DAYS")).alias("c")
    ).first()["c"]
    straggler = F.col("event_id") % P.LATE_MOD == 0
    wm_drop = ev.where(~straggler & (F.col("ts") <= F.lit(cut))).agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    ).first()["w"]
    wm_emit = ev.where(~straggler).agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    ).first()["w"]

    lates = ev.where(straggler).select(
        (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end")
    )
    total = lates.count()
    dropped = lates.where(F.col("w_end") <= F.lit(wm_drop)).count()
    tail = lates.where(
        (F.col("w_end") > F.lit(wm_drop)) & (F.col("w_end") > F.lit(wm_emit))
    ).count()
    assert merged + dropped + tail == total, (merged, dropped, tail, total)
    assert dropped > 0 and merged > 0  # both regimes actually exercised


def test_watermark_lag_canary(spark, tmp_path):
    """CANARY for the watermark-lag structure st20/st21's oracles encode.
    Spark's micro-batch watermark has TWO distinct lags (measured on
    this Spark, not a spec guarantee):

      * EVICTION/EMISSION watermark for batch N is computed from data
        through batch N-1 (lag 1) — st20's ``wm_emit`` (max over ALL
        on-time files - delay).
      * LATE-INPUT FILTER for batch N uses the eviction watermark OF
        batch N-1, i.e. data through batch N-2 (lag 2) — st20's
        ``wm_drop`` (max over file 000 ONLY - delay), and why st21's
        batch-1 redeliveries reach the dedup state instead of being
        late-filtered.

    A Spark upgrade that changes either lag flips those oracles' hashes
    with no code change; this test measures both on a minimal 3-file
    replay so the upgrade fails loudly here, in pytest, rather than
    mysteriously in the driver's hash.

    Replay (watermark delay 1 h, tumbling 1 h windows, append mode):
      file 0 (batch 0): 10:00
      file 1 (batch 1): 20:00
      file 2 (batch 2): 07:30 (win end 08:00), 09:15 (win end 10:00)
    With (filter lag 2, evict lag 1), batch 2 filters with wm 09:00
    (from file 0 only) and evicts with wm 19:00 (files 0-1):
      07:30 dropped (08:00 <= 09:00); 09:15 kept (10:00 > 09:00) and
      its window flushed (10:00 <= 19:00); 10:00's window flushed;
      20:00's window stays open  =>  exactly {09:00: 1, 10:00: 1}.
    Discrimination:
      filter lag 1 (batch 2 filters at 19:00): 09:15 also dropped ->
        no 09:00 row;
      filter lag 3+ (batch 2 filters at 0): 07:30 kept -> a 07:00 row;
      evict lag 2 (batch 2 evicts at 09:00): 10:00's window never
        flushed -> no 10:00 row.
    """
    import time

    d = str(tmp_path / "wm_lag_canary")
    os.makedirs(d, exist_ok=True)
    day = "2024-01-01"

    def write_file(i, ts_list):
        rows = [(int(i * 100 + j), f"{day} {t}") for j, t in enumerate(ts_list)]
        df = (
            spark.createDataFrame(rows, "event_id long, ts_s string")
            .select("event_id", F.to_timestamp("ts_s").alias("ts"))
            .coalesce(1)
        )
        sub = os.path.join(d, f"_w{i}")
        df.write.mode("overwrite").parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"replay-{i:03d}.parquet")
        os.replace(os.path.join(sub, part), dst)
        os.utime(dst, (time.time() - 1000 + i * 10,) * 2)

    write_file(0, ["10:00:00"])
    write_file(1, ["20:00:00"])
    write_file(2, ["07:30:00", "09:15:00"])

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "1 hour")
    )
    counts = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.date_format("w.start", "HH:mm").alias("hour"), "n")
    got = {r["hour"]: r["n"] for r in P.run_to_batch(counts, output_mode="append").collect()}

    assert got == {"09:00": 1, "10:00": 1}, (
        f"watermark lag structure changed: emitted {got}; "
        "missing 09:00 => late-filter lag dropped to 1; "
        "a 07:00 row => late-filter lag >= 3; "
        "missing 10:00 => eviction lag >= 2. "
        "st20/st21 oracles assume (filter lag 2, evict lag 1)."
    )


def test_st15_sink_heals_crashed_partial_attempt(spark, tmp_path):
    """CHAOS: a foreachBatch attempt that died MID-WRITE — some (hour,
    epoch) partitions committed with garbage (duplicated rows), others
    never written — must be fully healed by re-running the same epoch:
    foreachBatch retries re-deliver the SAME checkpointed batch, so the
    retry's dynamic overwrite rewrites every (hour_part, _epoch)
    partition the crashed attempt could have touched. Previously the
    idempotency claim was argued from the overwrite grain and tested
    only happy-path (VERDICT r6 stretch)."""
    from sketchmlflink_spark.streaming.pipelines import land_partitioned

    out = str(tmp_path / "sink")
    schema = "event_id long, hour_part string, event_type string"
    b0 = spark.createDataFrame(
        [(1, "2024-01-01-00", "a"), (2, "2024-01-01-01", "b"),
         (3, "2024-01-01-02", "c")], schema)

    # crashed first attempt of epoch 0: hour 00 committed TWICE-DUPLICATED
    # garbage, hour 01 committed a half-slice, hour 02 never written
    garbage = spark.createDataFrame(
        [(1, "2024-01-01-00", "a"), (1, "2024-01-01-00", "a"),
         (2, "2024-01-01-01", "b")], schema)
    land_partitioned(garbage, 0, out)
    pre = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert pre == [1, 1, 2]  # the wound is real

    # retry of epoch 0 with the true checkpointed batch
    land_partitioned(b0, 0, out)
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]  # duplicates gone, missing hour present

    # unrelated epochs survive the heal
    b1 = spark.createDataFrame([(9, "2024-01-01-00", "z")], schema)
    land_partitioned(b1, 1, out)
    land_partitioned(b0, 0, out)  # heal again with epoch 1 present
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 9]


def test_st21_dedup_survives_midstream_crash_and_restart(spark, tmp_path):
    """CHAOS for the exactly-once claim: the st21 redelivery replay is
    killed by a sink crash in micro-batch 1 AFTER committing a partial
    slice, then RESTARTED from the same checkpoint. Structured
    Streaming re-executes batch 1 with the same offsets and the
    batch-0 dedup state; the epoch-keyed overwrite sink heals the
    partial commit; the dedup state + late-input filter absorb both
    redelivery waves — so the landed rows are exactly the original
    events, once each, despite crash + at-least-once redelivery."""
    import os as _os

    from pyspark.errors import StreamingQueryException

    from sketchmlflink_spark.sources.tables import load_table

    sink = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    attempts: dict[int, int] = {}

    def land(bdf, eid, crash_on=None):
        d = _os.path.join(sink, f"epoch={int(eid)}")
        attempts[eid] = attempts.get(eid, 0) + 1
        if crash_on is not None and eid == crash_on and attempts[eid] == 1:
            # commit a partial, duplicated slice, then die mid-write
            bdf.limit(5).union(bdf.limit(5)).write.mode("overwrite").parquet(d)
            raise RuntimeError("injected mid-write crash")
        bdf.write.mode("overwrite").parquet(d)

    def start(crash_on):
        deduped = P.redelivered_events_stream(spark, SF_SMALL).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return (
            deduped.writeStream.foreachBatch(
                lambda b, e: land(b, e, crash_on=crash_on)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start(crash_on=1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    # the crash left a corrupted epoch-1 dir behind
    assert attempts[1] == 1

    q = start(crash_on=None)  # restart from the same checkpoint
    q.awaitTermination(300)
    q.stop()
    assert attempts[1] == 2  # batch 1 really was re-executed

    landed = spark.read.parquet(sink)
    exact = load_table(spark, SF_SMALL, "events")
    assert landed.count() == exact.count()
    assert landed.select("event_id").distinct().count() == exact.count()


def test_session_state_survives_restart_from_rocksdb_checkpoint(spark, tmp_path):
    """CHAOS for the round-7 state-store migration (VERDICT r7 item 6):
    a session_window query is stopped cleanly BETWEEN micro-batches,
    then restarted from the same RocksDB-format checkpoint with new
    files whose events CONTINUE sessions opened before the stop. The
    HDFS→RocksDB format difference is exactly where a silent state
    reset would hide: offsets would still resume (the offset log is
    plain HDFS files), every batch would "succeed", but the restarted
    run would open NEW sessions instead of extending the old ones. The
    assertion pins the merged counts, so a reset cannot pass."""
    import datetime

    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    assert "RocksDB" in provider, f"get_spark must select the RocksDB state store, got {provider!r}"

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def write_file(name: str, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [t0 + datetime.timedelta(minutes=r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(src, name))

    def run_once(query_name: str):
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .withWatermark("ts", P.WATERMARK)
        )
        q = (
            P.sessionize(stream)
            .writeStream.format("memory")
            .queryName(query_name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()
        return spark.table(query_name)

    # run 1: users 7 and 9 open sessions, no session is anywhere near
    # closing; the query terminates (AvailableNow) = a clean stop
    # between micro-batches with live state in the RocksDB checkpoint
    write_file("a.parquet", [(1, 0, 7), (2, 10, 7), (3, 5, 9)])
    first = {(r["user_id"], r["session_start"]): r["n_in_session"]
             for r in run_once("restart_rocksdb_run1").collect()}
    assert first == {
        (7, "2024-03-01 12:00:00"): 2,
        (9, "2024-03-01 12:05:00"): 1,
    }

    # run 2, same checkpoint: the new file's events fall INSIDE the gap
    # of the pre-stop sessions, so they must MERGE into them — possible
    # only if the session state survived the restart byte-for-byte
    write_file("b.parquet", [(4, 20, 7), (5, 25, 9)])
    merged = {(r["user_id"], r["session_start"]): r["n_in_session"]
              for r in run_once("restart_rocksdb_run2").collect()}
    assert merged == {
        (7, "2024-03-01 12:00:00"): 3,  # a state reset would show (7, 12:20): 1
        (9, "2024-03-01 12:05:00"): 2,  # a state reset would show (9, 12:25): 1
    }


# --------------------------------------------------------------------------
# st22 — hot-key quarantine for the stream-stream interval join
# --------------------------------------------------------------------------
def _plain_pairs(ev):
    """Brute-force reference: the st08 join condition with no bucketing."""
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("view_ts"),
    )
    j = c.join(
        v,
        (F.col("user_id") == F.col("vu"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") > F.col("click_ts") - F.expr("INTERVAL 3 HOURS")),
    )
    return {
        (r["click_id"], r["view_id"])
        for r in j.select("click_id", "view_id").collect()
    }


def _bucketed_pairs(ev):
    return {
        (r["click_id"], r["view_id"])
        for r in P.bucketed_click_view_join(ev).select("click_id", "view_id").collect()
    }


def test_bucketed_join_block_boundaries(spark):
    """The time-bucketed hot path must be EXACT at block edges: a view
    exactly 3 h before a click is excluded (strict >), a view at the
    click's own timestamp included (<=), and pairs that straddle a
    block boundary met exactly once. Timestamps sit ON multiples of the
    3 h block so a misfloored double division or an off-by-one block
    explode would flip the answer."""
    B = P._JOIN_INTERVAL_US
    base = (1_700_000_000_000_000 // B) * B  # exact block boundary, µs
    rows = [
        # (event_id, type, µs): click exactly on a boundary
        (1, "click", base),
        (10, "view", base - B),          # exactly 3 h before → EXCLUDED
        (11, "view", base - B + 1),      # 3 h − 1 µs → included (prev block)
        (12, "view", base),              # same instant → included (same block)
        (13, "view", base + 1),          # after the click → excluded
        # click strictly inside a block
        (2, "click", base + B // 2),
        (14, "view", base - B // 2),     # exactly 3 h before → EXCLUDED
        (15, "view", base - B // 2 + 1), # 3 h − 1 µs before click 2 → included
    ]
    ev = spark.createDataFrame(
        [(eid, 7, ty, t) for eid, ty, t in rows],
        "event_id long, user_id long, event_type string, us long",
    ).select("event_id", "user_id", "event_type", F.timestamp_micros("us").alias("ts"))
    got = _bucketed_pairs(ev)
    assert got == _plain_pairs(ev)
    # pin the exact expected set independently of the reference join
    # (all events share user 7, so cross-pairs count too)
    assert got == {
        (1, 11), (1, 12), (1, 14), (1, 15),  # click on the boundary
        (2, 12), (2, 13), (2, 15),           # click mid-block
    }


def test_bucketed_join_randomized_parity(spark):
    """Seeded random events across 5 blocks, several users, duplicate
    timestamps included: the bucketed pair set must equal the plain
    interval join's exactly."""
    import random

    rng = random.Random(42)
    B = P._JOIN_INTERVAL_US
    base = (1_700_000_000_000_000 // B) * B
    rows = []
    for eid in range(400):
        t = base + rng.randrange(-2 * B, 3 * B)
        if rng.random() < 0.1:  # force boundary-exact timestamps
            t = base + rng.randrange(-2, 3) * B
        rows.append(
            (eid, rng.choice([1, 2, 3]), rng.choice(["click", "view", "scroll"]), t)
        )
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, us long"
    ).select("event_id", "user_id", "event_type", F.timestamp_micros("us").alias("ts"))
    assert _bucketed_pairs(ev) == _plain_pairs(ev)


def test_st22_quarantine_union_matches_st08(spark):
    """End-to-end: st22 (census + cold stream-stream join + hot batch
    path) must return the exact row set of st08 at sf0.001, and a
    forced-low-threshold census split must also reproduce the plain
    join — so BOTH paths and their union seam are covered even though
    the uniform fixture's default census is empty."""
    from sketchmlflink_spark.sources.tables import load_table
    from sketchmlflink_spark.streaming.queries import (
        st08_stream_interval_join,
        st22_stream_interval_join_quarantine,
    )

    a = {tuple(r) for r in st08_stream_interval_join(spark, SF_SMALL).collect()}
    b = {tuple(r) for r in st22_stream_interval_join_quarantine(spark, SF_SMALL).collect()}
    assert a == b and len(a) > 0

    ev = load_table(spark, SF_SMALL, "events")
    n_users = ev.select("user_id").distinct().count()
    # threshold at half the average user's share → census non-empty
    hot = P.hot_user_census(ev, fraction=0.5 / n_users)
    assert hot, "expected a non-empty census at the forced threshold"
    cold_pairs = _plain_pairs(ev.where(~F.col("user_id").isin(hot)))
    hot_pairs = _bucketed_pairs(ev.where(F.col("user_id").isin(hot)))
    assert cold_pairs.isdisjoint(hot_pairs)
    assert (cold_pairs | hot_pairs) == _plain_pairs(ev)


def test_hot_user_census_ignores_null_keys(spark):
    """A NULL user_id group above the threshold must neither crash the
    census (ADVICE r8: int(None)) nor appear in the quarantine list —
    NULL keys never match the equi-join, so they cannot blow up join
    state and do not belong in the hot set."""
    rows = [(None,)] * 80 + [(7,)] * 15 + [(i,) for i in range(5)]
    ev = spark.createDataFrame(rows, "user_id bigint")
    hot = P.hot_user_census(ev, fraction=0.5)
    # among the 20 non-null events, user 7 carries 75% > 50%
    assert hot == [7]


def test_epoch_census_transitions_preserve_exactness(spark, tmp_path):
    """A key crossing the census threshold MID-STREAM changes hot/cold
    assignment at an epoch boundary — the untested transition VERDICT r8
    item 3 names. Synthetic fixture, fraction=0.3, three 6h epochs:
    user 1 is hot in epoch 0 and cools (hot→cold at boundary 2: its
    epoch-1 views never entered the stream, so the seam pass must feed
    its early-epoch-2 clicks); user 2 goes hot (cold→hot at boundary 2:
    its epoch-2 clicks leave the stream, so the hot pass's lookback must
    see its epoch-1 views). Both boundary-straddling pairs would be LOST
    without the seam handling; the full pair set must equal the plain
    batch interval join."""
    fx, H = _epoch_fixture(spark, tmp_path)

    # the transitions must actually occur, or the test proves nothing
    bounds, hots = P.epoch_hot_assignments(
        spark.read.parquet(str(fx / "events.parquet")), 3, fraction=0.3
    )
    # epoch 0 bootstraps with its OWN census (u1 is hot there already);
    # epochs 1/2 use the true prior-epoch assignments
    assert hots[0] == [1] and 1 in hots[1] and 1 not in hots[2], hots
    assert 2 not in hots[1] and 2 in hots[2], hots
    assert bounds[1] - bounds[0] == 6 * H

    got = {
        (r["click_id"], r["view_id"])
        for r in P.epoch_quarantine_interval_join(
            spark, str(fx), n_epochs=3, fraction=0.3
        ).collect()
    }
    want = _plain_pairs(spark.read.parquet(str(fx / "events.parquet")))
    assert got == want, (sorted(want - got), sorted(got - want))
    # the two seam pairs are present and were genuinely at risk
    assert (300, 210) in got and (301, 230) in got


def _epoch_fixture(spark, tmp_path):
    """The three-epoch census-transition fixture (u1 hot→cold, u2
    cold→hot at boundary 2, u3 always cold, a NULL-user row pinning max
    ts so the epochs are exact). Returns (fixture dir, one hour in µs)."""
    import pyspark.sql.functions as SF

    H = 3_600 * 1_000_000  # one hour in µs
    base = 1_767_225_600_000_000  # 2026-01-01 00:00:00 UTC
    rows = []  # (event_id, user_id, type, µs offset from base)

    def ev(eid, uid, ty, us):
        rows.append((eid, uid, ty, base + us))

    # --- epoch 0 [0h, 6h): u1 hot (10/17 > 30%), u2+u3 cold -----------
    for i in range(9):
        ev(100 + i, 1, "view", i * 30 * 60 * 1_000_000)  # every 30 min
    ev(109, 1, "click", 5 * H)              # pairs with recent u1 views
    ev(110, 2, "view", 4 * H)
    ev(111, 2, "click", 5 * H)              # in-epoch cold pair
    for i in range(5):
        ev(120 + i, 3, "view", i * H)
    # --- epoch 1 [6h, 12h): u2 hot (10/17 > 30%), u1 cools to 2/17 ----
    for i in range(9):
        ev(200 + i, 2, "view", 6 * H + i * 30 * 60 * 1_000_000)
    ev(209, 2, "click", 11 * H)
    ev(210, 1, "view", 11 * H + 30 * 60 * 1_000_000)  # 11h30 — the hot→cold seam view
    ev(211, 1, "view", 7 * H)               # stale: > 3h before any e2 click
    for i in range(5):
        ev(220 + i, 3, "click", 6 * H + i * H)  # u3 clicks pair with its e0 views? (>3h, no)
    # u2's view late in epoch 1 for the cold→hot lookback pair
    ev(230, 2, "view", 11 * H + 45 * 60 * 1_000_000)  # 11h45
    # --- epoch 2 [12h, 18h): u1 cold again, u2 hot by census(epoch 1) -
    ev(300, 1, "click", 12 * H + 30 * 60 * 1_000_000)  # 12h30 ← must meet view 210
    ev(301, 2, "click", 12 * H + 15 * 60 * 1_000_000)  # 12h15 ← must meet views 230, 209-era
    ev(302, 2, "view", 13 * H)
    ev(303, 2, "click", 14 * H)             # in-epoch hot pair
    for i in range(4):
        ev(310 + i, 3, "view", 13 * H + i * H)
    ev(320, 3, "click", 17 * H)
    ev(999, None, "view", 18 * H - 1)       # NULL user pins max ts; 3 exact epochs

    ev_df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, us long"
    ).select("event_id", "user_id", "event_type", SF.timestamp_micros("us").alias("ts"))
    # the real fixtures are single parquet FILES (events_stream symlinks
    # the file into its source dir); write one via a staging dir
    import shutil

    fx = tmp_path / "fixture"
    fx.mkdir()
    staging = tmp_path / "staging"
    ev_df.coalesce(1).write.parquet(str(staging))
    part = next(p for p in staging.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(part, fx / "events.parquet")
    return fx, H


def test_st23_census_ledger_survives_restart(spark, tmp_path):
    """Chaos the epoch seam across a RESTART (VERDICT r9 item 6): run 1
    takes the epoch censuses and persists them to the ledger, then
    'crashes' between the census epoch and the join epoch. Run 2
    restarts against the same ledger but a PARTIAL view of epoch 0 —
    the hot user's rows gone, as after retention/compaction of the old
    epoch's files. The restarted assignments must RELOAD run 1's (and
    its bounds), never silently recompute on the partial batch; the
    control run proves a recompute demonstrably yields a different hot
    set, so the reload path is doing real work. Finally the full
    quarantine join runs FROM the ledger and must still equal the
    plain batch pair set."""
    fx, H = _epoch_fixture(spark, tmp_path)
    full = spark.read.parquet(str(fx / "events.parquet"))
    ledger = str(tmp_path / "census_ledger")

    # run 1: censuses taken and persisted, then the driver "dies"
    bounds1, hots1 = P.epoch_hot_assignments(full, 3, fraction=0.3, census_dir=ledger)
    assert hots1[0] == [1] and 2 in hots1[2], hots1
    import os

    assert os.path.exists(os.path.join(ledger, "bounds.json"))
    assert os.path.exists(os.path.join(ledger, "census_epoch_0.json"))
    assert os.path.exists(os.path.join(ledger, "census_epoch_1.json"))

    # what the restarted driver sees: epoch 0's hot user's rows are gone
    us = F.unix_micros("ts")
    partial = full.where(
        ~((F.coalesce(F.col("user_id"), F.lit(-1)) == 1) & (us < F.lit(bounds1[1])))
    )

    # control — a recompute on the partial batch derives the WRONG sets
    _, hots_recomputed = P.epoch_hot_assignments(partial, 3, fraction=0.3)
    assert hots_recomputed != hots1, "control fixture no longer distinguishes reload from recompute"

    # run 2 — same ledger: bounds and every assignment reload exactly
    bounds2, hots2 = P.epoch_hot_assignments(partial, 3, fraction=0.3, census_dir=ledger)
    assert bounds2 == bounds1 and hots2 == hots1

    # and the join driven from the ledger still produces the exact pair set
    got = {
        (r["click_id"], r["view_id"])
        for r in P.epoch_quarantine_interval_join(
            spark, str(fx), n_epochs=3, fraction=0.3, census_dir=ledger
        ).collect()
    }
    assert got == _plain_pairs(full)


def test_census_ledger_rejects_mismatched_run(spark, tmp_path):
    """A census_dir written by one run must not be silently reused by a
    DIFFERENT run (ADVICE r10): a larger n_epochs used to IndexError deep
    in the census loop, and a different fraction reloaded stale hot sets
    as this run's. Both must fail loudly at load, naming the mismatch."""
    fx, _ = _epoch_fixture(spark, tmp_path)
    full = spark.read.parquet(str(fx / "events.parquet"))
    ledger = str(tmp_path / "census_ledger")
    P.epoch_hot_assignments(full, 3, fraction=0.3, census_dir=ledger)

    with pytest.raises(ValueError, match="n_epochs"):
        P.epoch_hot_assignments(full, 4, fraction=0.3, census_dir=ledger)
    with pytest.raises(ValueError, match="fraction"):
        P.epoch_hot_assignments(full, 3, fraction=0.2, census_dir=ledger)

    # legacy bare-list ledgers carry no params; the length check still
    # catches the n_epochs mismatch that used to IndexError
    import json

    legacy = tmp_path / "legacy_ledger"
    legacy.mkdir()
    with open(legacy / "bounds.json", "w") as f:
        json.dump([0, 10, 20, 30], f)  # 3-epoch bounds
    with pytest.raises(ValueError, match="epoch bounds"):
        P.epoch_hot_assignments(full, 5, fraction=0.3, census_dir=str(legacy))

    # same params → clean reload, bare list still accepted
    b, _ = P.epoch_hot_assignments(full, 3, fraction=0.3, census_dir=str(legacy))
    assert b == [0, 10, 20, 30]


def test_census_ledger_survives_two_concurrent_writers(spark, tmp_path):
    """Two concurrent epoch writers against ONE ledger dir — the
    production shape where yesterday's census job overlaps today's
    (VERDICT r10 item 8). The atomic write-then-rename (per-PID/per-thread
    temp name + os.replace) must guarantee (a) no reader ever sees a
    torn/partial JSON, (b) both writers land on the identical ledger
    (the files are deterministic functions of the batch), and (c) both
    runs return identical bounds + censuses."""
    import json
    import os as _os
    import threading

    fx, _ = _epoch_fixture(spark, tmp_path)
    full = spark.read.parquet(str(fx / "events.parquet"))
    ledger = str(tmp_path / "census_ledger")

    results, errors = {}, []

    def writer(tag):
        try:
            results[tag] = P.epoch_hot_assignments(
                full, 3, fraction=0.3, census_dir=ledger
            )
        except Exception as e:  # noqa: BLE001
            errors.append((tag, repr(e)))

    # a reader hammering the ledger while both writers run: every load
    # must either miss the file entirely or parse as complete JSON —
    # a JSONDecodeError here is exactly the torn write the rename
    # discipline exists to prevent
    stop = threading.Event()
    torn = []

    def reader():
        paths = [
            _os.path.join(ledger, "bounds.json"),
            _os.path.join(ledger, "census_epoch_0.json"),
            _os.path.join(ledger, "census_epoch_1.json"),
        ]
        while not stop.is_set():
            for p in paths:
                if _os.path.exists(p):
                    try:
                        with open(p) as f:
                            json.load(f)
                    except json.JSONDecodeError as e:
                        torn.append((p, repr(e)))
                        return

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    rt = threading.Thread(target=reader)
    rt.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    rt.join()

    assert not errors, errors
    assert not torn, torn
    assert results["a"] == results["b"]
    bounds_a, hots_a = results["a"]

    # the surviving ledger is complete, parseable, and matches both runs
    with open(_os.path.join(ledger, "bounds.json")) as f:
        ledger_bounds = json.load(f)
    assert ledger_bounds["bounds"] == bounds_a
    assert ledger_bounds["n_epochs"] == 3 and ledger_bounds["fraction"] == 0.3
    # hots = [census0 (bootstrap), census0, census1] for n_epochs=3
    for e, want in ((0, hots_a[0]), (1, hots_a[2])):
        with open(_os.path.join(ledger, f"census_epoch_{e}.json")) as f:
            assert json.load(f) == want
    # and no stray temp files leak behind
    assert not [p for p in _os.listdir(ledger) if ".tmp." in p]


def test_census_ledger_write_from_many_threads(tmp_path):
    """The ledger write alone, without Spark, under more writer threads
    than cores: a temp name shared between threads of one process lets
    one writer's os.replace move the other's temp file away first."""
    import json
    import sys
    import threading

    path = str(tmp_path / "bounds.json")
    value = {"bounds": list(range(64))}
    errors = []

    def writer():
        for _ in range(200):
            try:
                P._census_ledger_write(path, value)
            except OSError as e:
                errors.append(repr(e))

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer) for _ in range(2 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    with open(path) as f:
        assert json.load(f) == value
    assert not [p for p in os.listdir(tmp_path) if ".tmp." in p]


def test_failed_stream_build_leaves_no_stale_partition_hint(spark, monkeypatch):
    """VERDICT r11 item 8: a source build that fails mid-construction
    must not leave a partition hint behind for the NEXT unrelated
    streaming query to silently consume as its state-store count. The
    hint is published as the last step of a successful build, so any
    exception during schema/read construction leaves the mailbox
    untouched."""
    P._STREAM_PARTS_HINT.clear()

    def boom(*_a, **_k):
        raise RuntimeError("schema read failed")

    monkeypatch.setattr(P, "footer_schema", boom)
    with pytest.raises(RuntimeError, match="schema read failed"):
        P.events_stream(spark, SF_SMALL)
    assert P._STREAM_PARTS_HINT == [], "failed build leaked a partition hint"
    monkeypatch.undo()

    # a successful build publishes its own freshly derived hint…
    P.events_stream(spark, SF_SMALL)
    assert len(P._STREAM_PARTS_HINT) == 1
    hinted = P._STREAM_PARTS_HINT[0]
    assert 1 <= hinted <= int(spark.conf.get("spark.sql.shuffle.partitions"))

    # …and _apply_stream_partitions pops it before the query starts, so a
    # failed .start() cannot leak it either
    with P._apply_stream_partitions(spark):
        assert P._STREAM_PARTS_HINT == []
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == hinted
