#!/usr/bin/env python
"""Hot-key skew stress bench (VERDICT r6 item 2).

Runs the shuffle-heavy, skew-sensitive catalog queries on a uniform
fixture and its --skew twin (same row counts, ~30% of rows on one hot
user / token / partkey — bin/make_sf.py --skew), and for every
oracle-backed query ALSO verifies correctness against DuckDB on the
skewed fixture. Prints one JSON line:

  {"metric": "skew_bench", "sf": ..., "skew": {...}, "uniform": {...},
   "ratio": {...}, "oracle_skew": {...}}

Query set and what each exercises:
  user hot key (30% of events on user 0):
    q14_user_event_gaps        per-user window (lag)
    q25_batch_sessionize       per-user window + session agg
    q34_funnel_conversion      per-user window + funnel micros
    q36_cohort_retention       per-user window + cohort join
    st04_stream_sessions       streaming session window state
    st22_stream_interval_join_quarantine  hot-key-quarantined stream-
                               stream join (plain st08 exceeds 1500 s on
                               the skew twin — one key = one state task,
                               unreachable by AQE/salting; measured r8,
                               BASELINE.md — st22 is the playbook fix)
    q21_event_type_stats_salted control: agg already salted by design
  token hot key ('zipfhead' ~= 30% of corpus token mass):
    t10_unigram_xent           token explode -> token-score join
    t11_tfidf_top_terms        token explode -> df join -> per-doc topk
    t12_dsir_importance        token explode -> weight join
    t15_bigram_xent            bigram explode -> bigram-score join
  partkey hot key (30% of lineitems on one part):
    q15_promo_revenue_share    lineitem x part — broadcast-immunity
                               control (dim side broadcast, hot probe
                               key never shuffles)
  join-path coverage (VERDICT r7 item 5 — the hot partkey also skews
  lineitem row sizes per orderkey group, and these are the fact-fact /
  bucketed join shapes that a 100-TB cluster actually runs):
    q03_shipping_priority      lineitem⋈orders shuffle join + group agg
    q05_revenue_by_nation      star join: fact-fact SMJ + 4 broadcasts
    q31_bucketed_segment_revenue  bucketed SMJ (co-located, no shuffle)
    q35_copurchase_pairs       orderkey self-join — pair fan-out under
                               a hot part (the quadratic-blowup canary)

Usage: python bin/skew_bench.py [uniform_dir] [skew_dir] [--repeat N]
       defaults: testdata_sf1 testdata_sf1skew --repeat 2
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SKEW_SET = [
    "q14_user_event_gaps",
    "q25_batch_sessionize",
    "q40_sessionize_twophase",
    "q34_funnel_conversion",
    "q36_cohort_retention",
    "st04_stream_sessions",
    "st22_stream_interval_join_quarantine",
    "q21_event_type_stats_salted",
    "t10_unigram_xent",
    "t11_tfidf_top_terms",
    "t12_dsir_importance",
    "t15_bigram_xent",
    "q15_promo_revenue_share",
    "q03_shipping_priority",
    "q05_revenue_by_nation",
    "q31_bucketed_segment_revenue",
    "q35_copurchase_pairs",
]


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("uniform_dir", nargs="?", default="testdata_sf1")
    ap.add_argument("skew_dir", nargs="?", default="testdata_sf1skew")
    ap.add_argument("--repeat", type=int, default=2)
    ns = ap.parse_args()
    uniform = os.path.abspath(ns.uniform_dir)
    skewed = os.path.abspath(ns.skew_dir)
    repeat = ns.repeat

    from sketchmlflink_spark.registry import all_queries
    from sketchmlflink_spark.session import get_spark
    from tests.oracle_check import check, duck_connection

    spark = get_spark("sketchmlflink-skewbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    def best_of(name: str, sf_dir: str) -> float:
        best = None
        for _ in range(repeat):
            t0 = time.monotonic()
            queries[name].build(spark, sf_dir).count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    times = {"uniform": {}, "skew": {}}
    for name in SKEW_SET:
        for label, d in (("uniform", uniform), ("skew", skewed)):
            try:
                times[label][name] = best_of(name, d)
            except Exception as e:  # noqa: BLE001
                times[label][name] = f"{type(e).__name__}: {e}"[:200]
            print(f"{name:32s} {label:8s} {times[label][name]}", flush=True)

    # correctness under skew: the DuckDB oracle doesn't care about key
    # distribution, so a hash-equal result on the skewed fixture proves
    # the engine's salting/AQE path doesn't change answers. REPR-STRICT
    # since round 8 — the same zero-tolerance comparator as the driver's
    # value hash, on the skewed data too.
    oracle_skew = {}
    con = duck_connection(skewed)
    for name in SKEW_SET:
        q = queries[name]
        if q.oracle is None:
            oracle_skew[name] = "rows-only"
            continue
        try:
            _, problems = check(q, q.build(spark, skewed), con)
            oracle_skew[name] = "OK" if not problems else "; ".join(problems[:2])[:200]
        except Exception as e:  # noqa: BLE001
            oracle_skew[name] = f"{type(e).__name__}: {e}"[:200]
        print(f"oracle[skew] {name:32s} {oracle_skew[name]}", flush=True)

    ratio = {
        n: round(times["skew"][n] / times["uniform"][n], 2)
        for n in SKEW_SET
        if isinstance(times["skew"].get(n), float)
        and isinstance(times["uniform"].get(n), float)
    }
    print(json.dumps({
        "metric": "skew_bench",
        "uniform_dir": uniform,
        "skew_dir": skewed,
        "repeat": repeat,
        "uniform": times["uniform"],
        "skew": times["skew"],
        "ratio": ratio,
        "oracle_skew": oracle_skew,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
