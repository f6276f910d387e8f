"""Query registry: the driver-facing catalog of every implemented
operator/query (SURVEY.md §2 inventory + §7.1 M0/M5/M6 surface).

Each entry pairs a Spark DataFrame builder with (where SQL-expressible)
an equivalent DuckDB oracle SQL string. ``__spark_entry__.py`` is a thin
shim over this module. Column names are aliased identically on both
sides — the driver's comparator sorts columns by name before hashing.
"""

from __future__ import annotations

import functools

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class EngineQuery:
    name: str
    build: QueryFn
    oracle: Optional[str]  # DuckDB SQL, or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Approximate-estimator tolerance: None → exact hash semantics.
    # A float (e.g. 0.02) documents the estimator's error band; the
    # local sweep falls back to a band compare when the exact check
    # fails at scales past the estimator's exact regime (the driver's
    # own comparator ignores this and stays exact at its sf).
    band: Optional[float] = None
    # Scale guard: SF at/above which the sweep must skip this entry
    # because the query or its ORACLE is intentionally quadratic (the
    # labeled brute-force correctness anchors). None → runs at any SF.
    # Machine-readable here so no sweep invocation depends on a
    # manually passed --skip list (ADVICE r6): s01/s02/s15 are
    # quadratic ENGINE anchors (guard >= 1); d17's engine side is
    # banded+linear but its DuckDB oracle is a single-threaded
    # quadratic nested loop (~368 s at sf1, ~1 h at sf3 → guard >= 3).
    scale_guard_sf: Optional[float] = None
    # Skew guard: non-None ⇒ the entry is KNOWN not to finish on a
    # hot-key fixture (make_sf --skew), with the reason and the
    # first-class fix named. Same in-registry philosophy as the scale
    # guard: the r8 skew sweep burned its full 300 s timeout proving
    # st08's single-task join state every run; the limitation is
    # documented once (BASELINE.md) and the sweep skips it LOUDLY,
    # while the fix (st22) runs green beside it.
    skew_guard_reason: Optional[str] = None


_REGISTRY: dict[str, EngineQuery] = {}


def register(
    name: str,
    oracle: Optional[str] = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    band: Optional[float] = None,
    scale_guard_sf: Optional[float] = None,
    skew_guard_reason: Optional[str] = None,
):
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the catalog."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def build(spark, sf_dir):
            # Every query reaches its builder through here, so this is
            # where a session built elsewhere gets the package's confs
            # and its Python workers the package, before any builder
            # reads a table or pickles a mapInPandas body by reference.
            # A get_spark session is already set up: this costs a few
            # conf sets and ships nothing.
            from sketchmlflink_spark.session import tune_for_session

            tune_for_session(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = EngineQuery(
            name=name, build=build, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            tags=tags, band=band, scale_guard_sf=scale_guard_sf,
            skew_guard_reason=skew_guard_reason,
        )
        return fn

    return wrap


def scale_guarded_names(sf: Optional[float]) -> set[str]:
    """Names whose scale guard fires at scale factor ``sf`` (None → no
    guard applies — unknown scale is treated as small)."""
    if sf is None:
        return set()
    return {
        name
        for name, q in all_queries().items()
        if q.scale_guard_sf is not None and sf >= q.scale_guard_sf
    }


def is_skew_fixture(sf_dir: str) -> bool:
    """True when the fixture path names a make_sf --skew twin (its sf
    token ends in 'skew', e.g. …/testdata_sf1skew). Same word-boundary
    discipline as infer_sf: the token must start a path segment or
    follow an underscore."""
    import re

    return bool(re.search(r"(?:^|[_/])sf\d+(?:\.\d+)?skew(?:[/_]|$)", sf_dir))


def skew_guarded(sf_dir: str) -> dict[str, str]:
    """name → reason for entries whose skew guard fires on ``sf_dir``
    (empty unless the path is a --skew fixture)."""
    if not is_skew_fixture(sf_dir):
        return {}
    return {
        name: q.skew_guard_reason
        for name, q in all_queries().items()
        if q.skew_guard_reason is not None
    }


def infer_sf(sf_dir: str) -> Optional[float]:
    """Parse the scale factor out of a fixture path (…/sf0.01,
    …/testdata_sf3, …/sf1skew). Returns None when no sf token is
    present. The token must start a path segment or follow an
    underscore (ADVICE r7: a bare substring match let an unrelated
    component like a mount named *sf10* activate the scale guard)."""
    import re

    m = re.findall(r"(?:^|[_/])sf(\d+(?:\.\d+)?)", sf_dir)
    return float(m[-1]) if m else None


# The driver's per-round correctness check covers a PREFIX of the
# queries() dict (round 2 checked exactly the first 50 in registration
# order, which missed every m*/s*/sk*/p*/st* entry). Order the catalog
# so the check window always contains the SURVEY §2-core ML surface
# (m01-m07) and at least one representative of every family; the tail
# stays covered by the local oracle harness (tests/oracle_check.py).
#
# ROTATION POLICY (VERDICT r8 item 4, oldest-first): the window is
# rebuilt each round from the driver-row AGE LEDGER — for every entry,
# the last round it held a CORRECTNESS_r*.json row (computed straight
# from those committed artifacts). Slots go to, in order:
#   1. the §2-core m01-m08 (pinned — never rotate out),
#   2. entries with NO driver row yet (new this round),
#   3. entries whose CODE changed this round (fresh row where changed),
#   4. everything else oldest-evidence-first (ties alphabetical).
# Round-11 ledger (from CORRECTNESS_r01..r10): r6={mm03}; r7=22
# entries; r8=39; r9=41; r10=50; st06a is new (no row).
# The r11 window = m-core(8) + new{st06a}(1) + r11-changed{the graph-
# oracle rewrite d13/d15/d16, the d06 anchor pin, the adaptive-tile
# d04/d21/d18, the st06 refactor}(8) + the r6 straggler mm03(1) + the
# whole r7 cohort minus the two already seated (d06, d13)(20) + the
# r8 queue oldest-first alphabetical to fill(12).
_PRIORITY = (
    # 1. §2-core ML (pinned)
    "m01_linear_predict", "m02_dimension_inference", "m03_sgd_exact_metrics",
    "m04_sgd_sketch_metrics", "m05_sgd_sparse_metrics", "m06_libsvm_cli_e2e",
    "m07_lr_schedule_sweep", "m08_csvline_report",
    # 2. NEW this round -- first driver row: the incremental trainer's
    # hash-oracled model projection
    "st06a_stream_sgd_weights",
    # 3. code changed this round: the sf10 graph-oracle rewrite
    # (doc-set-collapsed edges + unrolled pointer jumping), the d06
    # in-registry anchor pin, the adaptive per-bucket tile geometry
    # (d04/d21/d18), and the st06 shared-state refactor under st06a
    "d13_dup_graph_components", "d15_dup_graph_pagerank",
    "d16_canonical_selection", "d06_embed_cosine_neardup",
    "d04_minhash_lsh_neardup", "d21_minhash_tiled_neardup",
    "d18_embed_lsh_tiled_pairs", "st06_stream_incremental_sgd",
    # 4. oldest evidence first -- last driver row r6:
    "mm03_frame_sample",
    # last driver row r7 (the cohort the r10 ledger named as r11
    # leads; d06/d13 already seated above):
    "m09_sgd_million_dim", "mm01_media_metadata", "mm02_media_features",
    "p02_embedding_pipeline", "p13_hash_shard_manifest",
    "p15_dsir_resample", "q01_pricing_summary", "q33_ohlc_bars",
    "q34_funnel_conversion", "q36_cohort_retention",
    "q39_price_band_join", "s01_knn_cosine_brute",
    "s11_sq8_ann_cosine", "s13_mmr_diversified_topk",
    "sk03_approx_percentiles", "sk04_histogram_percentile_rollup",
    "st01_stream_hourly_counts", "t03_lang_id",
    "t12_dsir_importance", "t14_zipf_rank_freq",
    # last driver row r8, oldest-first alphabetical, to fill 50:
    "d01_dedup_exact", "d17_prefix_containment", "mm06_pair_curation",
    "p08_incremental_rollup", "p14_bottomk_sample",
    "p16_overlap_chunking", "p17_orc_interchange_roundtrip",
    "q02_revenue_forecast", "q03_shipping_priority",
    "q05_revenue_by_nation", "q08_rollup_sales", "q13_events_json_bucket",
)


def all_queries() -> dict[str, EngineQuery]:
    _load_operator_modules()
    ordered: dict[str, EngineQuery] = {}
    for name in _PRIORITY:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def query_fns() -> dict[str, QueryFn]:
    return {name: q.build for name, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}


_LOADED = False


def _load_operator_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from sketchmlflink_spark.operators import (  # noqa: F401
        dedup,
        multimodal,
        pipeline,
        relational,
        similarity,
        sketch_aggs,
        textops,
    )
    from sketchmlflink_spark import ml_queries  # noqa: F401
    from sketchmlflink_spark.streaming import queries as streaming_queries  # noqa: F401

    _LOADED = True
