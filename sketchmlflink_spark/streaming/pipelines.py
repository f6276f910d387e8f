"""Streaming pipeline builders over the `events` table (M5).

Every pipeline is defined on an unbounded streaming DataFrame —
`events_stream` uses the file source, so the same code runs against a
directory that keeps receiving event files on a real deployment. Tests
and the registry drive them with `Trigger.AvailableNow` into a
deterministic sink, which makes the windowed aggregates hash-checkable
against the DuckDB oracle (the driver contract's strong check).

Scale notes: windowed aggregation state is partitioned by (window, key)
— the shuffle is on the group key exactly as in batch; the watermark
bounds state size, which is what makes the operator viable on an
unbounded 100 TB/day stream. dropDuplicates keeps one state row per key
within the watermark horizon. applyInPandasWithState state is per
group-key, Arrow-batched per trigger.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

WATERMARK = "1 hour"

# ---------------------------------------------------------------------------
# scale-adaptive stateful-op partitioning (optimization guide §2.2/§2.5)
# ---------------------------------------------------------------------------
# A streaming query's shuffle-partition count IS its state-store instance
# count, pinned in the checkpoint at query start — AQE cannot coalesce it
# afterward, so the legacy "one constant for every scale" sizing is wrong
# in both directions. Measured on this repo's replays (r11): with the
# constant at 32, each micro-batch pays 32 provider loads + 32 commits
# per stateful op, and the provider-load path is a global lock convoy
# (24/32 executor threads BLOCKED in StateStore.getStateStoreProvider in
# the commit-phase thread dump) — per-commit cost grows ~10x from 4 to
# 32 concurrent committers (75 ms → 650 ms) while the replay data per
# store shrinks to nothing. Deriving the count from source bytes gives
# tiny replays a handful of stores and lets the count grow with the data
# until the session cap (cpus) governs — the same sizing rule a 100-TB
# deployment applies when it picks shuffle partitions for state size.
#
# Handoff: source builders derive their count with
# _stream_partitions_for (pure) and publish it with
# _set_stream_partitions_hint as the LAST step of a successful build —
# a builder that raises mid-build can never leave a stale hint for the
# next unrelated stream to consume (VERDICT r11 item 8; the old shape
# hinted before the fallible readStream/schema steps).
# run_to_batch / run_foreach_batch consume the hint around query start
# and restore the session value after (batch queries keep the session
# default); a failed .start() cannot leak either — the context manager
# pops the hint before starting. _STREAM_STATE_BYTES is the
# per-partition byte target: 4 MB of source parquet ≈ 16-32 MB of
# decoded rows/state per store.
_STREAM_PARTS_HINT: list[int] = []
_STREAM_STATE_BYTES = 4 * 1024 * 1024


def _set_stream_partitions_hint(n: int) -> None:
    _STREAM_PARTS_HINT.clear()
    _STREAM_PARTS_HINT.append(int(n))


def _stream_partitions_for(
    spark: SparkSession, *paths: str, compute_heavy: bool = False
) -> int:
    total = 0
    for p in paths:
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(p)
                for f in fs
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001
        cap = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if compute_heavy:
        # Per-PIPELINE override for stateful operators whose cost is the
        # per-group COMPUTE, not the state commit (st18's per-user Python
        # funnel: ~user-count groups per trigger). The bytes-derived
        # count optimizes commit latency and starved exactly this class —
        # measured at sf1: st18 4.0 → 6.5 s normalized under the derived
        # count, recovered at the cap. The cap is the session/cluster
        # parallelism, so this stays scale-adaptive, not a local constant.
        n = cap
    else:
        # floor of 4 (below the cap): state commits are near-free at this
        # concurrency while compute-heavy stateful ops (session-window
        # merge) keep some parallelism — n=1 was measured to give back
        # ~1-2 s of single-threaded merge on st04's 95k sessions
        n = max(1, min(4, cap), min(cap, -(-total // _STREAM_STATE_BYTES)))
    return int(n)


_FOOTER_SCHEMA_CACHE: dict = {}


def footer_schema(spark: SparkSession, path: str):
    """Parquet footer schema with a per-(path, size, mtime) cache: the
    streaming source builders re-derive the batch footer schema on
    every build (a driver-side listing + footer read, ~100 ms each ×
    24 streaming entries per suite). Keyed on the file identity, so a
    regenerated fixture invalidates naturally; schema (not results) —
    every query still computes from the parquet bytes."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    if key not in _FOOTER_SCHEMA_CACHE:
        _FOOTER_SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _FOOTER_SCHEMA_CACHE[key]


@contextmanager
def _apply_stream_partitions(spark: SparkSession):
    """Consume the pending partition hint for the duration of one
    streaming query; restore the session value afterward."""
    hint = _STREAM_PARTS_HINT[0] if _STREAM_PARTS_HINT else None
    _STREAM_PARTS_HINT.clear()
    if hint is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(hint))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Short digest of a source table's on-disk identity (paths +
    sizes + mtimes of every file under it). Folded into replay-cache
    directory names so that REGENERATING a gitignored fixture
    automatically invalidates any cached replay split built from the
    old bytes — without it, a stale marker-guarded cache makes st20/
    st21 fail in a way that looks like an engine bug."""
    import hashlib

    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    h = hashlib.sha256()
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(root)
            for f in fs
        )
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def _fingerprinted_dir(kind: str, sf_dir: str, table: str) -> str:
    """Replay-cache dir ``stream_<kind>_<sfpath>_<fingerprint>`` for the
    current source bytes, PRUNING stale siblings first (ADVICE r7: each
    fixture regeneration minted a new fingerprinted copy under /tmp and
    the old ones were never removed — unbounded growth across
    regeneration cycles). At most one materialized replay copy per
    (kind, sf_dir) can exist."""
    import shutil

    prefix = f"stream_{kind}_" + sf_dir.strip("/").replace("/", "_") + "_"
    fp = _source_fingerprint(sf_dir, table)
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if name.startswith(prefix) and name != prefix + fp:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    return os.path.join(tmp, prefix + fp)


def stream_dir_for(path: str) -> str:
    """The streaming file source only accepts directories; the test
    tables are single parquet files in a read-only tree. Expose a file
    as a stable temp directory containing a symlink to it (a real
    deployment would just point at the ingest directory)."""
    path = os.path.abspath(path)  # a relative target would dangle from /tmp
    d = os.path.join(
        tempfile.gettempdir(),
        "stream_src_" + path.strip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.islink(link):
        os.symlink(path, link)
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, compute_heavy_state: bool = False
) -> DataFrame:
    """Streaming scan of the events parquet with event-time watermark.

    Streaming file sources require a user-provided schema; instead of
    hard-coding one (which silently corrupts event time when the
    upstream writer changes its ts encoding — the round-2 failure), read
    the ACTUAL schema from the parquet footer via a batch read, then
    apply the same ts normalization as the batch loader. Batch and
    streaming ingestion can never disagree about the physical encoding.

    ``compute_heavy_state``: the consumer is a stateful operator whose
    per-group compute dominates its state commits (see
    _stream_partitions_for) — partitions stay at the session cap.
    """
    from sketchmlflink_spark.sources.tables import normalize_event_ts

    path = os.path.join(sf_dir, "events.parquet")
    n_parts = _stream_partitions_for(spark, path, compute_heavy=compute_heavy_state)
    fschema = footer_schema(spark, path)  # footer-only read, cached
    raw = (
        spark.readStream.schema(fschema)
        .format("parquet")
        .load(stream_dir_for(path))
    )
    out = normalize_event_ts(raw).withWatermark("ts", WATERMARK)
    _set_stream_partitions_hint(n_parts)  # publish only on a successful build
    return out


# --------------------------------------------------------------------------
# window pipelines (each: streaming DF → streaming DF)
# --------------------------------------------------------------------------
def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window × event_type: count + value sum."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal sum: value carries exactly 2 decimals, so this is
            # exact → no float summation-order drift vs the oracle
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_value_stats(events: DataFrame) -> DataFrame:
    """Sliding window (1 hour, slide 30 min): global count + avg value.
    Every event lands in exactly two windows."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum ÷ count, UNROUNDED: the numerator is
            # bit-identical to the oracle's so the IEEE quotient is too;
            # rounding would reintroduce engine-dependent half-boundary
            # behavior (Spark HALF_UPs the decimal string, DuckDB rounds
            # the binary double)
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("value_avg"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "value_avg")
    )


def dedup_counts(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id (state bounded by the
    watermark), then per-type counts of distinct events."""
    return (
        events.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_events"))
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-merged): one row per session with
    its start and event count. Single streaming aggregation — stacking a
    second one on top is unsupported outside append mode, so per-user
    rollups happen batch-side on the result."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_in_session"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_in_session",
        )
    )


def click_view_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: every (click, view) pair for
    the same user where the view happened within the 3 hours up to
    the click. Both sides carry the event-time watermark, and the range
    condition bounds join state to the interval + watermark horizon —
    the property that keeps a stream-stream join viable on an unbounded
    stream (without it, each side's state grows forever). Inner join ⇒
    matches emit immediately; append mode."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") > F.col("click_ts") - F.expr(_JOIN_INTERVAL_EXPR)),
    )
    return joined.select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# hot-key quarantine for the stream-stream interval join (st22)
# --------------------------------------------------------------------------
# The round-8 skew sweep measured the failure this pair of helpers
# exists to fix: under a 30%-hot user, st08's stream-stream interval
# join exceeds 1500 s where the identical BATCH join finishes in ~40 s
# (SWEEP_r08_strict_sf1skew.txt / BASELINE.md). Stream-stream join
# state is hash-partitioned by the join key, one key lives in ONE
# state-store task, and neither AQE nor salting reaches inside
# streaming state — so the hot key must be kept OUT of the stream.
# st22 quarantines keys above HOT_USER_FRACTION of the events with a
# cheap batch census, streams the (uniform) cold tail through the
# normal watermarked join, and computes the hot keys on a batch path
# bucketed by join-interval-sized time blocks — the (user × 3h-block)
# partitioning a window/stream state store cannot create.
HOT_USER_FRACTION = 0.01  # census threshold; at most 1/f keys quarantine
# st08's join interval — the ONE constant both the block width and every
# Spark INTERVAL expression derive from (a mismatch would silently make
# st22's hot path emit a different pair set than its cold path/oracle;
# st08's oracle SQL string spells the same 3 HOURS and must follow it).
_JOIN_INTERVAL_HOURS = 3
_JOIN_INTERVAL_US = _JOIN_INTERVAL_HOURS * 3600 * 1_000_000
_JOIN_INTERVAL_EXPR = f"INTERVAL {_JOIN_INTERVAL_HOURS} HOURS"


def hot_user_census(events: DataFrame, fraction: float = HOT_USER_FRACTION) -> list:
    """Exact hot-key census: user_ids carrying more than ``fraction``
    of the batch events. One scan + one tiny agg; the result is bounded
    by 1/fraction keys (a driver list by construction, never data-
    sized), and exact integer comparison keeps it deterministic."""
    from fractions import Fraction

    # NULL keys never match the equi-join, so they can neither blow up
    # join state nor belong in the quarantine list; dropping them here
    # also keeps int() below total (ADVICE r8: int(None) crash)
    counts = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    try:
        total = counts.agg(F.sum("n").alias("t")).collect()[0]["t"] or 0
        # integer-only threshold, exact up to denominator 1e6 (any float
        # literal a user can write; a Fraction with a larger reduced
        # denominator is approximated by limit_denominator and would
        # move the bar by <1e-6): n/total > p/q ⇔ n·q > total·p.
        # An earlier k = round(1/fraction) form silently moved the bar
        # (fraction=0.4 → k=2 → threshold 50%), letting a 45%-hot key
        # stay in the streaming path — the exact blowup the census
        # exists to prevent.
        frac = Fraction(fraction).limit_denominator(1_000_000)
        rows = counts.where(
            F.col("n") * F.lit(frac.denominator) > F.lit(total * frac.numerator)
        ).collect()
    finally:
        counts.unpersist()
    return sorted(int(r["user_id"]) for r in rows)


def bucketed_click_view_join(
    events: DataFrame,
    click_lo_us: int | None = None,
    click_hi_us: int | None = None,
    view_lt_us: int | None = None,
) -> DataFrame:
    """Batch interval join emitting EXACTLY the pair set of
    click_view_interval_join, but shuffle-partitioned by
    (user_id, 3h time block) instead of by user alone.

    Blocks are exactly the join interval wide, so a click in block b
    can only match views in blocks {b-1, b}: exploding each click to
    those two block ids, equi-joining on (user_id, block) and re-
    applying the exact range predicate meets every qualifying pair
    exactly once (a view's block is unique, so no pair meets twice).
    Block ids use integer division of unix_micros — double division
    could misfloor an exact block-boundary timestamp. This splits a
    Zipf-head user's lifetime into per-3h tasks, which is what makes
    the quarantine path scale where single-task join state cannot."""
    blk = F.expr(f"unix_micros(ts) div {_JOIN_INTERVAL_US}")
    # optional µs bounds (epoch-census mode): restrict which CLICKS this
    # pass owns ([click_lo_us, click_hi_us)) and, for the seam pass at an
    # assignment boundary, which VIEWS (strictly before view_lt_us) — the
    # complementary pairs belong to a neighboring pass or the cold stream
    clicks_src = events.where(F.col("event_type") == "click")
    if click_lo_us is not None:
        clicks_src = clicks_src.where(F.unix_micros("ts") >= click_lo_us)
    if click_hi_us is not None:
        clicks_src = clicks_src.where(F.unix_micros("ts") < click_hi_us)
    clicks = clicks_src.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.explode(F.array(blk - 1, blk)).alias("blk"),
    )
    views_src = events.where(F.col("event_type") == "view")
    if view_lt_us is not None:
        views_src = views_src.where(F.unix_micros("ts") < view_lt_us)
    views = views_src.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
        blk.alias("vblk"),
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("view_user"))
        & (F.col("blk") == F.col("vblk"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") > F.col("click_ts") - F.expr(_JOIN_INTERVAL_EXPR)),
    )
    return joined.select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def _census_ledger_load(path: str):
    import json
    import os

    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _census_ledger_write(path: str, value) -> None:
    """Atomic write-then-rename: a crash mid-write must leave either
    the previous ledger entry or none — a truncated JSON would turn a
    restart into a crash loop."""
    import json
    import os
    import threading

    # unique per thread too: two writer threads sharing one temp file
    # would race the second os.replace into FileNotFoundError
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)


def epoch_hot_assignments(
    events: DataFrame,
    n_epochs: int,
    fraction: float = HOT_USER_FRACTION,
    census_dir: str | None = None,
) -> tuple[list, list]:
    """PRODUCTION census mode: the hot set applied to epoch N is the
    census of epoch N-1 — st22's per-replay full-batch census needs the
    whole batch before any streaming starts, which a truly continuous
    deployment does not have; a prior-epoch census is what it actually
    runs. Epoch 0 has no prior epoch and is BOOTSTRAPPED with its own
    census (a batch pass, the same thing a deployment does before
    enabling the stream against a corpus it has never profiled): the
    r9 skew sweep showed that an empty cold-start census feeds the
    whole Zipf head into stream-join state for the entire first epoch —
    st08's blow-up, reproduced at the seam the mode exists to manage.
    Exactness is census-invariant (pytest-pinned), so the bootstrap is
    semantically neutral. Returns (epoch boundaries in unix µs,
    n_epochs+1 entries; per-epoch hot-user lists). Epochs are equal
    fixed-width time slices of the batch's ts range — integer ceil so
    the last boundary strictly exceeds max ts.

    ``census_dir`` is the RESTART ledger (VERDICT r9 item 6): when set,
    epoch boundaries and each completed epoch's census are persisted as
    tiny JSON files (atomic write-then-rename) and RELOADED in
    preference to recomputation. A driver restarted between the census
    epoch and the join epoch therefore applies the census the crashed
    run took — never a silent recompute over whatever partial batch the
    restarted process happens to see (which would re-derive DIFFERENT
    hot sets and different bounds, exactly the wrong-answer mode the
    chaos test pins)."""
    import os

    bounds = None
    if census_dir is not None:
        os.makedirs(census_dir, exist_ok=True)
        ledger = _census_ledger_load(os.path.join(census_dir, "bounds.json"))
        if ledger is not None:
            # The ledger records the run parameters it was written under
            # (ADVICE r10 item 3): reusing a census_dir with a different
            # n_epochs previously IndexError'd deep in the census loop,
            # and a different fraction silently reloaded stale hot sets
            # as if they were this run's. Fail loudly on any mismatch —
            # a restart must resume the SAME run, not a lookalike.
            # (Legacy ledgers were a bare bounds list; validate length.)
            if isinstance(ledger, dict):
                stale = []
                if ledger.get("n_epochs") != n_epochs:
                    stale.append(
                        f"n_epochs {ledger.get('n_epochs')} != {n_epochs}"
                    )
                if ledger.get("fraction") != fraction:
                    stale.append(
                        f"fraction {ledger.get('fraction')} != {fraction}"
                    )
                if stale:
                    raise ValueError(
                        f"census ledger {census_dir!r} was written by a "
                        f"different run ({'; '.join(stale)}); point this "
                        "run at a fresh census_dir"
                    )
                bounds = ledger["bounds"]
            else:
                bounds = ledger
            if bounds is not None and len(bounds) != n_epochs + 1:
                raise ValueError(
                    f"census ledger {census_dir!r} holds {len(bounds)} "
                    f"epoch bounds but this run needs {n_epochs + 1} "
                    f"(n_epochs={n_epochs}); point this run at a fresh "
                    "census_dir"
                )
    if bounds is None:
        lo, hi = events.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).first()
        width = -(-(int(hi) - int(lo) + 1) // n_epochs)
        bounds = [int(lo) + i * width for i in range(n_epochs + 1)]
        if census_dir is not None:
            _census_ledger_write(
                os.path.join(census_dir, "bounds.json"),
                {"n_epochs": n_epochs, "fraction": fraction, "bounds": bounds},
            )
    us = F.unix_micros("ts")
    census = []
    # the last epoch's census is never applied; epoch 0's is applied
    # twice (bootstrap for epoch 0 itself, prior-epoch for epoch 1)
    for e in range(max(1, n_epochs - 1)):
        hot = (
            _census_ledger_load(os.path.join(census_dir, f"census_epoch_{e}.json"))
            if census_dir is not None
            else None
        )
        if hot is None:
            hot = hot_user_census(
                events.where((us >= bounds[e]) & (us < bounds[e + 1])), fraction
            )
            if census_dir is not None:
                _census_ledger_write(
                    os.path.join(census_dir, f"census_epoch_{e}.json"), hot
                )
        census.append(hot)
    return bounds, [census[0]] + census[: n_epochs - 1]


def epoch_quarantine_interval_join(
    spark: SparkSession,
    sf_dir: str,
    n_epochs: int = 3,
    fraction: float = HOT_USER_FRACTION,
    census_dir: str | None = None,
) -> DataFrame:
    """st22's quarantine join under the prior-epoch census (the mode the
    st22 docstring promises for 100 TB): a key's hot/cold assignment can
    CHANGE at an epoch boundary, and the transition — not the steady
    state — is where exactness could break. Three pair families, by the
    epoch e of the CLICK and the user's assignment in e:

      * cold-in-e users: the normal watermarked stream-stream join. The
        stream carries an event only while its user is cold in the
        event's OWN epoch (a stateless time+key filter), so a user going
        hot never double-feeds join state.
      * hot-in-e users: the (user × 3h block) batch pass over that
        epoch's clicks, with a one-interval VIEW lookback into e-1 —
        covers the cold→hot seam (the e-1 views sat in stream state, but
        the e clicks never enter the stream, so no pair is doubled).
      * hot→cold transitions (in assignment e-1, not in e): the user's
        e-1 events never entered the stream, so its first-3h-of-e clicks
        cannot see their e-1 views in join state — a dedicated seam pass
        emits exactly (click in [start_e, start_e+3h), view < start_e);
        later clicks only need views ≥ start_e, which the stream has.

    Union = exactly st08's pair set (pytest: a synthetic fixture with a
    key crossing the threshold each way; registry: st23 shares st08's
    hash oracle). Cost at 100 TB: per epoch, one census agg on the
    previous epoch plus bounded batch passes over quarantined keys —
    never a second full-stream scan."""
    from sketchmlflink_spark.sources.tables import load_table

    ev_batch = load_table(spark, sf_dir, "events")
    bounds, hots = epoch_hot_assignments(
        ev_batch, n_epochs, fraction, census_dir=census_dir
    )
    us = F.unix_micros("ts")

    hot_pred = F.lit(False)
    for e, hot in enumerate(hots):
        if hot:
            hot_pred = hot_pred | (
                (us >= bounds[e]) & (us < bounds[e + 1]) & F.col("user_id").isin(hot)
            )
    # NULL user_id makes isin NULL; coalesce keeps those events streaming
    # (they can never match the equi-join, but dropping them would change
    # other consumers' view of the stream)
    cold = events_stream(spark, sf_dir).where(~F.coalesce(hot_pred, F.lit(False)))
    outs = [run_to_batch(click_view_interval_join(cold), output_mode="append")]

    for e, hot in enumerate(hots):
        if hot:
            sub = ev_batch.where(
                F.col("user_id").isin(hot)
                & (us >= bounds[e] - _JOIN_INTERVAL_US)
                & (us < bounds[e + 1])
            )
            outs.append(
                bucketed_click_view_join(
                    sub, click_lo_us=bounds[e], click_hi_us=bounds[e + 1]
                )
            )
        seam = sorted(set(hots[e - 1]) - set(hot)) if e > 0 else []
        if seam:
            hi_us = min(bounds[e] + _JOIN_INTERVAL_US, bounds[e + 1])
            sub = ev_batch.where(
                F.col("user_id").isin(seam)
                & (us >= bounds[e] - _JOIN_INTERVAL_US)
                & (us < hi_us)
            )
            outs.append(
                bucketed_click_view_join(
                    sub,
                    click_lo_us=bounds[e],
                    click_hi_us=hi_us,
                    view_lt_us=bounds[e],
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def sketch_profile(events: DataFrame) -> DataFrame:
    """Sketch-typed windowed aggregation (the M5 promise): per tumbling
    hour, HLL distinct-user estimate + approximate median value. The
    sketch state per window is FIXED-SIZE regardless of event volume —
    on an unbounded stream this is what replaces the unbounded distinct
    set / full value list a 100 TB/day exact operator would need."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.percentile_approx("value", 0.5, 10000).alias("p50_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_events", "approx_users", "p50_value")
    )


# --------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState
# --------------------------------------------------------------------------
PROFILE_STATE_SCHEMA = "n long, total_cents long, vmin double, vmax double"
PROFILE_OUT_SCHEMA = (
    "event_type string, n long, value_sum double, value_min double, value_max double"
)


def _profile_update(key, pdfs, state):
    """Running per-event_type profile (count/sum/min/max of value) kept
    in the state store; emits the current profile once per trigger."""
    import pandas as pd

    if state.exists:
        n, total_cents, vmin, vmax = state.get
    else:
        n, total_cents, vmin, vmax = 0, 0, float("inf"), float("-inf")
    for pdf in pdfs:
        v = pdf["value"].dropna()
        n += len(v)
        # integer-cents accumulation (values carry 2 decimals): exact,
        # so the running sum never drifts from the oracle's
        total_cents += int((v * 100).round().sum()) if len(v) else 0
        if len(v):
            vmin = min(vmin, float(v.min()))
            vmax = max(vmax, float(v.max()))
    state.update((n, total_cents, vmin, vmax))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n": [n],
            "value_sum": [total_cents / 100.0],
            "value_min": [vmin],
            "value_max": [vmax],
        }
    )


def value_profile_by_type(events: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY.md §7.1 M5): exact running
    profile per event_type via applyInPandasWithState — deterministic,
    so it stays in the hash-checked set."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _profile_update,
            outputStructType=PROFILE_OUT_SCHEMA,
            stateStructType=PROFILE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# drive a streaming pipeline to a deterministic batch result
# --------------------------------------------------------------------------
def run_to_batch(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Execute a streaming DF with Trigger.AvailableNow and return the
    final result as a batch DataFrame (memory sink, unique query name +
    throwaway checkpoint). ``complete`` mode flushes every window even
    though the single AvailableNow batch never advances the watermark
    past them (append mode would emit nothing on a bounded replay)."""
    spark = result.sparkSession
    name = f"st_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    with _apply_stream_partitions(spark):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_s)
            # A timed-out replay MUST raise, never return the partial
            # memory table: the first full-catalog strict sweep on the
            # SKEWED fixture (round 8) caught st08 returning an empty
            # frame after its hot-user interval join outran the 300 s
            # default — a silent wrong answer, the worst failure mode
            # there is. On a slower machine/bigger replay, raise and let
            # the caller size timeout_s.
            if not finished:
                raise TimeoutError(
                    f"streaming replay {name!r} still running after {timeout_s}s — "
                    "refusing to return a partial result; raise timeout_s"
                )
        finally:
            q.stop()
            _unload_state_stores(spark)
    return spark.table(name)


def _unload_state_stores(spark: SparkSession) -> None:
    """Unload every cached state-store provider after a bounded replay
    finishes. Each replay uses a throwaway checkpoint, so its providers
    can never be reused — but they stay in StateStore's global
    loadedProviders map (native RocksDB handles, background maintenance
    that now also snapshots changelogs) until the session dies. Across a
    150-query suite that is hundreds of stale stores; measured: the
    streaming family runs ~9% faster and late-suite batch queries stop
    paying maintenance churn (d18 6.3→4.9 s after the family) with the
    unload. State is reloadable from the checkpoint by contract, so
    this is semantics-free."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # noqa: BLE001 — cleanup must never fail a query
        pass


# η₀ for the st06/st06a incremental trainer — shared with st06a's SQL
# oracle, which replays the single registry micro-batch's epoch closed-form
INCREMENTAL_SGD_STEP = 0.5


def incremental_sgd_driver(
    stream: DataFrame,
    training_df_for_batch,
    dim: int,
    step_size: float = INCREMENTAL_SGD_STEP,
    timeout_s: int = 300,
) -> dict:
    """The st06 incremental-training loop: each micro-batch warm-starts
    from the previous model and runs ONE epoch, with ``epoch_offset``
    carrying the eta0/sqrt(t) schedule across batches — so N micro-
    batches take the same N schedule steps a batch run of N epochs
    takes. Returns the driver-held state dict (raw weights/intercept
    included) so tests can assert batch-arm parity on the actual model,
    not a projection (VERDICT r3 next-round item 7).

    ``training_df_for_batch(batch_df)`` maps the raw micro-batch to the
    (features, label) frame."""
    import numpy as np

    from sketchmlflink_spark.config import SolverConfig
    from sketchmlflink_spark.ml import sgd

    state = {"w": np.zeros(dim), "b": 0.0, "batches": 0, "loss": None, "n": 0}

    def step(batch_df: DataFrame, _eid: int) -> None:
        if batch_df.isEmpty():
            return
        res = sgd.train(
            training_df_for_batch(batch_df),
            SolverConfig(iterations=1, step_size=step_size),
            dim=dim,
            init_weights=state["w"],
            init_intercept=state["b"],
            epoch_offset=state["batches"],
        )
        state["w"], state["b"] = res.weights, res.intercept
        state["batches"] += 1
        state["loss"] = res.losses[-1]
        state["n"] += res.n_train

    run_foreach_batch(stream, step, output_mode="append", timeout_s=timeout_s)
    return state


@contextmanager
def dynamic_partition_overwrite(sp):
    """Scope spark.sql.sources.partitionOverwriteMode=dynamic to one
    write: the st15/st16/st17/st19 sinks need it, but leaving it set on
    the shared session would leak into unrelated queries run later on
    the same session (ADVICE r4) — a plain `overwrite` elsewhere would
    silently become partition-append semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = sp.conf.get(key, None)
    sp.conf.set(key, "dynamic")
    try:
        yield
    finally:
        if prev is None:
            sp.conf.unset(key)
        else:
            sp.conf.set(key, prev)


@contextmanager
def driver_side_listing(sp):
    """Scope ``parallelPartitionDiscovery.threshold`` up for one read of
    a many-partition-directory dataset. Above the default threshold
    (32 paths) Spark launches a DISTRIBUTED listing job, whose
    job-scheduling round costs ~1-2 s here while the driver's own
    listing pool (``parallelPartitionDiscovery.parallelism`` threads)
    lists hundreds-to-thousands of local/posix dirs in milliseconds —
    measured on st15's 720-hour-dir read-back: 2.1 s → 0.85 s
    best-of-3. Scale-parameterised, not a local tune:
    $SPARK_GRAFT_DRIVER_LIST_DIRS (default 4096) is the dir count past
    which a deployment prefers the distributed listing again (object
    stores with slow per-prefix listing would set it lower)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = sp.conf.get(key, None)
    sp.conf.set(key, os.environ.get("SPARK_GRAFT_DRIVER_LIST_DIRS", "4096"))
    try:
        yield
    finally:
        if prev is None:
            sp.conf.unset(key)
        else:
            sp.conf.set(key, prev)


def land_partitioned(batch_df: DataFrame, eid: int, out_dir: str) -> None:
    """The st15 sink recipe: each epoch lands as a PLAIN overwrite of
    its own ``out_dir/_epoch=<e>`` directory, hour-partitioned inside.
    Retrying epoch e rewrites exactly (and only) epoch e's directory —
    idempotent, and it heals a crashed partial attempt MORE thoroughly
    than the previous (hour_part, _epoch) dynamic-partition overwrite
    (which could orphan a (hour, e) partition the retry batch no longer
    contains); distinct epochs are distinct directories and never
    clobber, so multi-batch ingestion of one hour never drops earlier
    rows (ADVICE r3). ``_epoch`` rides as a directory-encoded partition
    column exactly as before — readers infer the same (hour_part,
    _epoch) schema and hourly consumers still prune on hour_part.

    Why not dynamic overwrite: its job commit moves every partition
    directory driver-side — measured at sf0.1 (720 hour dirs, local
    fs, best-of-3) 9.5 s vs 3.5 s for the identical data as a plain
    per-epoch overwrite; on an object store those per-partition moves
    are copies and the gap widens (guide §6/§7.3 commit-protocol
    frames). The overwrite-one-epoch-dir grain needs no partition
    diffing at all.

    Repartition by hour so a wide batch doesn't open a file per task
    per hour — but with EXPLICIT task count: a bare
    ``repartition("hour_part")`` lets AQE coalesce the (byte-small)
    batch into ~1 task, which then writes every hour's file serially —
    the write cost here is file fan-out, not bytes, so writer
    parallelism must track core count, not partition size (measured at
    sf0.1, 1440 hour dirs: 27–43 s → 5–11 s per epoch). Same pathology
    on a cluster: one executor crawling through 1440 file commits."""
    n_writers = batch_df.sparkSession.sparkContext.defaultParallelism
    (
        batch_df.repartition(n_writers, "hour_part")
        .write.mode("overwrite")
        .partitionBy("hour_part")
        .parquet(os.path.join(out_dir, f"_epoch={int(eid)}"))
    )


def run_foreach_batch(
    result: DataFrame,
    batch_fn,
    timeout_s: int = 300,
    output_mode: str = "update",
) -> None:
    """Execute a streaming DF with foreachBatch + AvailableNow; the
    caller's ``batch_fn(df, epoch_id)`` sees each micro-batch as a plain
    batch DataFrame (the M5 incremental-training glue)."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_feb_")
    with _apply_stream_partitions(result.sparkSession):
        q = (
            result.writeStream.foreachBatch(batch_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_s)
        finally:
            q.stop()
            _unload_state_stores(result.sparkSession)


# --------------------------------------------------------------------------
# streaming JSONL ingestion (the corpus-intake path, streamed)
# --------------------------------------------------------------------------
N_CORRUPT_LINES = 3  # deterministic torn lines injected into the stream dir


def jsonl_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the documents table as a JSONL ingest directory
    (once per sf_dir, marker-guarded) plus a file of torn lines, so the
    streaming reader exercises the quarantine path. A real deployment
    points at the crawler's drop directory instead."""
    from sketchmlflink_spark.sources.jsonl import write_jsonl
    from sketchmlflink_spark.sources.tables import load_table

    d = _fingerprinted_dir("jsonl", sf_dir, "documents")
    marker = os.path.join(d, "_INGEST_READY")
    if not os.path.exists(marker):
        write_jsonl(load_table(spark, sf_dir, "documents"), d)
        with open(os.path.join(d, "corrupt.jsonl"), "w") as f:
            f.write('{"doc_id": 900001, "text": "torn\n')
            f.write("not json at all\n")
            f.write('{"doc_id": "type-clash", "text": 7}\n')
        with open(marker, "w") as f:
            f.write("ok")
    return d


def documents_jsonl_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded text-file stream over the JSONL ingest dir, parsed with
    the same explicit-schema + corrupt-record contract as the batch
    reader (sources/jsonl.py) — streaming and batch ingestion share one
    schema and one quarantine policy."""
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL, DOCUMENT_SCHEMA

    read_schema = StructType(
        list(DOCUMENT_SCHEMA.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    src_dir = jsonl_stream_dir(spark, sf_dir)
    n_parts = _stream_partitions_for(spark, src_dir)
    raw = spark.readStream.format("text").load(src_dir)
    out = raw.select(
        "value",
        F.from_json(
            "value",
            read_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("j"),
    )
    _set_stream_partitions_hint(n_parts)  # publish only on a successful build
    return out


def jsonl_ingest_counts(parsed: DataFrame) -> DataFrame:
    """Per-language clean-document counts with malformed lines folded
    into a '__corrupt__' bucket — the intake dashboard aggregate. State
    is one row per language; no watermark needed (no event time)."""
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL

    bucket = (
        F.when(F.col(f"j.{CORRUPT_COL}").isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("j.lang"))
        .alias("bucket")
    )
    return parsed.select(bucket).groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# late-data replay (st20): a three-file out-of-order ingest simulation
# --------------------------------------------------------------------------
LATE_MOD = 20          # every 20th event (event_id % 20 == 0) is a straggler
LATE_CUT_DAYS = 7      # on-time prefix/tail split point: max(ts) - 7 days


def late_replay_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table as a THREE-file out-of-order replay
    directory (once per sf_dir, marker-guarded):

      replay-000  on-time prefix  (not straggler, ts <= max(ts) - 7d)
      replay-001  on-time tail    (not straggler, ts >  max(ts) - 7d)
      replay-002  stragglers      (event_id % 20 == 0) — arrive LAST,
                                  hours to weeks after their event time

    File mtimes ascend so the streaming file source (which orders by
    modification time) replays them in exactly this sequence, and
    maxFilesPerTrigger=1 puts each file in its own micro-batch — the
    deterministic replay of a feed whose producers deliver some events
    very late. One file per arrival is the SEMANTICS under test (the
    arrival order), not a write-parallelism choice; a real deployment
    points at the ingest directory and the producer's files arrive
    already split."""
    from sketchmlflink_spark.sources.tables import load_table

    d = _fingerprinted_dir("late", sf_dir, "events")
    marker = os.path.join(d, "_REPLAY_READY")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        ev = load_table(spark, sf_dir, "events")
        cut = ev.agg(
            (F.max("ts") - F.expr(f"INTERVAL {LATE_CUT_DAYS} DAYS")).alias("c")
        ).first()["c"]
        straggler = F.col("event_id") % LATE_MOD == 0
        splits = [
            ev.where(~straggler & (F.col("ts") <= F.lit(cut))),
            ev.where(~straggler & (F.col("ts") > F.lit(cut))),
            ev.where(straggler),
        ]
        import time as _time

        base = _time.time() - 1000
        for i, df in enumerate(splits):
            sub = os.path.join(d, f"_w{i}")
            df.coalesce(1).write.mode("overwrite").parquet(sub)
            part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
            dst = os.path.join(d, f"replay-{i:03d}.parquet")
            os.replace(os.path.join(sub, part), dst)
            os.utime(dst, (base + i * 10,) * 2)
        with open(marker, "w") as f:
            f.write("ok")
    return d


def late_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_stream's twin over the late-replay directory: one file per
    micro-batch (maxFilesPerTrigger=1), same footer-schema + ts
    normalization + 1 h watermark as the batch loader."""
    from sketchmlflink_spark.sources.tables import normalize_event_ts

    fschema = footer_schema(spark, os.path.join(sf_dir, "events.parquet"))
    replay_dir = late_replay_stream_dir(spark, sf_dir)
    n_parts = _stream_partitions_for(spark, replay_dir)
    raw = (
        spark.readStream.schema(fschema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(replay_dir)
    )
    out = normalize_event_ts(raw).withWatermark("ts", WATERMARK)
    _set_stream_partitions_hint(n_parts)  # publish only on a successful build
    return out


def late_window_audit(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour counts over the late replay, with a per-window
    audit of how many STRAGGLERS the watermark let back in. Late rows
    whose window was already finalized (emitted + evicted) are dropped
    by the engine; late rows for still-open windows merge — the count
    pair makes both visible and hash-checkable."""
    is_late = (F.col("event_id") % LATE_MOD == 0).cast("int")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(is_late).alias("n_late_merged"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n_events",
            "n_late_merged",
        )
    )


# --------------------------------------------------------------------------
# redelivery replay (st21): at-least-once feed -> exactly-once counts
# --------------------------------------------------------------------------
RD_SAMPLE_MOD = 3   # batch-1 redeliveries: every 3rd event, any age
RD_OLD_MOD = 50     # batch-2 redeliveries: every 50th OLD event


def redelivery_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize an AT-LEAST-ONCE delivery simulation (once per
    sf_dir, marker-guarded): the full events table, then two
    redelivery files — a broad duplicate sample while the dedup state
    is still live (batch 1), and duplicates of OLD events (ts more than
    the watermark horizon before the stream's max) arriving after their
    state has expired (batch 2). mtime-ordered, one file per arrival —
    the arrival order IS the semantics under test (same contract as
    late_replay_stream_dir)."""
    from sketchmlflink_spark.sources.tables import load_table

    d = _fingerprinted_dir("redeliver", sf_dir, "events")
    marker = os.path.join(d, "_REPLAY_READY")
    if not os.path.exists(marker):
        os.makedirs(d, exist_ok=True)
        ev = load_table(spark, sf_dir, "events")
        wm_cut = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("c")).first()["c"]
        splits = [
            ev,
            ev.where(F.col("event_id") % RD_SAMPLE_MOD == 0),
            ev.where(
                (F.col("ts") <= F.lit(wm_cut)) & (F.col("event_id") % RD_OLD_MOD == 0)
            ),
        ]
        import time as _time

        base = _time.time() - 1000
        for i, df in enumerate(splits):
            sub = os.path.join(d, f"_w{i}")
            df.coalesce(1).write.mode("overwrite").parquet(sub)
            part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
            dst = os.path.join(d, f"replay-{i:03d}.parquet")
            os.replace(os.path.join(sub, part), dst)
            os.utime(dst, (base + i * 10,) * 2)
        with open(marker, "w") as f:
            f.write("ok")
    return d


def redelivered_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_stream's twin over the redelivery directory: one file per
    micro-batch, footer schema, ts normalization, 1 h watermark."""
    from sketchmlflink_spark.sources.tables import normalize_event_ts

    fschema = footer_schema(spark, os.path.join(sf_dir, "events.parquet"))
    replay_dir = redelivery_stream_dir(spark, sf_dir)
    n_parts = _stream_partitions_for(spark, replay_dir)
    raw = (
        spark.readStream.schema(fschema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(replay_dir)
    )
    out = normalize_event_ts(raw).withWatermark("ts", WATERMARK)
    _set_stream_partitions_hint(n_parts)  # publish only on a successful build
    return out


# --------------------------------------------------------------------------
# stream-static dimension join (enrichment)
# --------------------------------------------------------------------------
def static_segment_counts(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Enrich the event stream with a STATIC dimension (broadcast into
    every micro-batch — no state, no watermark interplay; the canonical
    stream-side-input pattern) and aggregate per segment. The decimal
    cast keeps the running sum exact across micro-batches, so the
    streaming answer is bit-identical to the batch oracle."""
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )


def quality_gate_counts(parsed: DataFrame) -> DataFrame:
    """Streaming quality gate: apply the t06 C4/Gopher rule stack to the
    in-flight JSONL document stream and roll up verdicts per language.
    The verdict is the FIRST failing rule (priority order matches t06's
    reasons column), 'kept' when all pass. Stateless per-row projection →
    the only state is the tiny (lang, verdict) count map."""
    from sketchmlflink_spark.functions import text as T
    from sketchmlflink_spark.operators.textops import (
        QF_MIN_DISTINCT,
        QF_MIN_STOPWORD,
        QF_MIN_TOKENS,
        QF_TOKEN_LEN_HI,
        QF_TOKEN_LEN_LO,
    )
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL

    clean = parsed.where(F.col(f"j.{CORRUPT_COL}").isNull()).select(
        F.col("j.lang").alias("lang"), F.col("j.text").alias("text")
    )
    sig = (
        clean.select("lang", T.tokens("text").alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "lang",
            F.size("tk").alias("n_tokens"),
            T.distinct_token_ratio(F.col("tk")).alias("dr"),
            (T.marker_hits(F.col("tk"), T.EN_STOPWORDS) / F.size("tk")).alias("sr"),
            T.avg_token_len(F.col("tk")).alias("atl"),
        )
    )
    verdict = F.coalesce(
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, "too_short"),
        F.when(F.col("dr") < QF_MIN_DISTINCT, "repetitive"),
        F.when(F.col("sr") < QF_MIN_STOPWORD, "low_stopword"),
        F.when(
            (F.col("atl") < QF_TOKEN_LEN_LO) | (F.col("atl") > QF_TOKEN_LEN_HI),
            "token_len",
        ),
        F.lit("kept"),
    )
    return (
        sig.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def span_dedup_stats(parsed: DataFrame) -> DataFrame:
    """Streaming span-level dedup: explode every clean in-flight document
    into its word spans (scan-side Catalyst, shared with batch d10),
    dropDuplicates on the span digest in the state store, and count the
    distinct spans — the streaming twin of d10's first-occurrence
    election. Output is a single order-insensitive scalar (count of
    distinct spans), so the bounded replay hash-matches the batch
    count-distinct regardless of micro-batch arrival order. State = one
    16-byte digest per distinct span (the same key the batch shuffle
    uses); at 100 TB you bound it with a watermark TTL on ingest time."""
    from sketchmlflink_spark.operators.dedup import span_chunks
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL

    clean = parsed.where(F.col(f"j.{CORRUPT_COL}").isNull()).select(
        F.col("j.text").alias("text")
    )
    spans = clean.select(F.explode(span_chunks("text")).alias("chunk")).select(
        F.md5("chunk").alias("digest")
    )
    return (
        spans.dropDuplicates(["digest"])
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_distinct_spans"))
    )


def decontaminate_stream(parsed: DataFrame, eval_digests: DataFrame) -> DataFrame:
    """Streaming decontamination: probe every arriving clean document's
    word spans against the STATIC broadcast eval-digest set (d12's
    semantics, stream-static join execution) and emit per-doc overlap
    counts. Per-doc rows are order-insensitive, so the bounded replay
    hash-matches the batch d12 answer exactly — same oracle, streaming
    engine. State: none beyond the in-flight aggregation (the digest set
    is a broadcast side input, not stream state)."""
    from sketchmlflink_spark.operators.dedup import span_chunks
    from sketchmlflink_spark.sources.jsonl import CORRUPT_COL

    clean = parsed.where(F.col(f"j.{CORRUPT_COL}").isNull()).select(
        F.col("j.doc_id").alias("doc_id"), F.col("j.text").alias("text")
    )
    spans = clean.select(
        "doc_id", F.explode_outer(span_chunks("text")).alias("chunk")
    ).withColumn("digest", F.md5("chunk"))
    probed = spans.join(F.broadcast(eval_digests), "digest", "left")
    return probed.groupBy("doc_id").agg(
        F.count("chunk").alias("n_spans"),
        F.count("hit").alias("n_overlap"),
        (F.count("hit") > 0).alias("is_contaminated"),
    )


# --------------------------------------------------------------------------
# streaming funnel-stage tracking (st18): q34's ordered view→click→
# purchase sequence detection as per-user state
# --------------------------------------------------------------------------
FUNNEL_OUT_SCHEMA = (
    "user_id long, t_view_us long, t_click_us long, t_purchase_us long"
)
FUNNEL_STATE_SCHEMA = "t_view long, t_click long, t_purchase long"


def _funnel_update(key, pdfs, state):
    """Per-user funnel state: first view, first click at/after it,
    first purchase at/after that click (−1 = stage not reached).
    Rows are replayed in (ts, event_id) order inside each trigger, so
    with time-ordered micro-batches the stage timestamps are exactly
    q34's chained running-min semantics, carried across batches by the
    state store."""
    import pandas as pd

    tv, tc, tp = state.get if state.exists else (-1, -1, -1)
    rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    for et, t_ in zip(rows["event_type"], rows["ts"]):
        us = int(t_.value // 1000)  # datetime64[ns] → µs
        if et == "view":
            if tv < 0:
                tv = us
        elif et == "click":
            if tc < 0 and 0 <= tv <= us:
                tc = us
        elif et == "purchase":
            if tp < 0 and 0 <= tc <= us:
                tp = us
    state.update((tv, tc, tp))
    yield pd.DataFrame(
        {
            "user_id": pd.array([int(key[0])], dtype="Int64"),
            "t_view_us": pd.array([tv if tv >= 0 else None], dtype="Int64"),
            "t_click_us": pd.array([tc if tc >= 0 else None], dtype="Int64"),
            "t_purchase_us": pd.array([tp if tp >= 0 else None], dtype="Int64"),
        }
    )


def funnel_stages(events: DataFrame) -> DataFrame:
    """Custom stateful sequence-detection operator: per-user funnel
    stage timestamps via applyInPandasWithState (update mode — each
    trigger re-emits the users it advanced)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_update,
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
