#!/usr/bin/env python
"""Full local oracle sweep: every registered query vs its DuckDB oracle
(or rows-only execution) at a given sf dir. Prints one line per query
and a final tally — the reproducible backing for SURVEY.md §8 status
claims.

Usage: python bin/oracle_sweep.py [sf_dir] [--skip a,b] [--only a,b]
       [--no-default-guard]

Every oracled entry goes through ``tests/oracle_check.check``: canonical
sorted rows, floats via repr, zero tolerance — what the driver's value
hash sees (an isclose compare treats -0.0 == 0.0 and let t12's signed
zero through two rounds of local gates). An entry with a documented
estimator ``band`` falls back to the band compare only after the strict
compare fails; the tally counts it as band-matched. Run the sweep at
sf0.01 every round.

The BASELINE.md scale guard is applied AUTOMATICALLY: each registry
entry carries its own `scale_guard_sf`, the sweep infers the scale
factor from the sf_dir path, and guarded entries are skipped at or
above their threshold (ADVICE r6 — no invocation depends on a manually
passed list). --skip adds names on top; --only sweeps just the named
entries (an unknown name exits 2); --no-default-guard disables the
automatic guard and the skew guard (to deliberately run a quadratic
anchor).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def _names(arg: str) -> set[str]:
    return set(arg.split(","))


def main() -> None:
    ap = argparse.ArgumentParser(description="Sweep the catalog against its DuckDB oracles.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--skip", type=_names, default=set(), help="comma-separated names")
    ap.add_argument("--only", type=_names, default=set(), help="comma-separated names")
    ap.add_argument("--no-default-guard", action="store_true")
    args = ap.parse_args()

    from sketchmlflink_spark.registry import (
        all_queries,
        infer_sf,
        scale_guarded_names,
        skew_guarded,
    )
    from sketchmlflink_spark.session import get_spark
    from tests.oracle_check import check, duck_connection

    spark = get_spark("sketchmlflink-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(args.sf_dir)
    queries = all_queries()
    if args.only:
        unknown = args.only - set(queries)
        if unknown:
            print(f"--only names not in registry: {sorted(unknown)}", flush=True)
            sys.exit(2)
        queries = {n: q for n, q in queries.items() if n in args.only}

    # always defined — --no-default-guard must not NameError the skip
    # check below (ADVICE r10 item 1); it just leaves both empty
    auto: set[str] = set()
    skew: dict[str, str] = {}
    if not args.no_default_guard:
        sf = infer_sf(args.sf_dir)
        if sf is None:
            print(
                f"WARNING: no sf token in {args.sf_dir!r} — scale unknown, "
                "quadratic correctness anchors will run UNGUARDED",
                flush=True,
            )
        auto = scale_guarded_names(sf)
        if auto:
            print(f"auto scale guard at sf={sf}: {sorted(auto)}", flush=True)
        skew = skew_guarded(args.sf_dir)
        for name, reason in sorted(skew.items()):
            print(f"skew guard: {name} — {reason}", flush=True)

    import gc

    # one disjoint attribution, computed once, driving BOTH the per-line
    # labels and the tally (ADVICE r10 item 5: the two previously used
    # opposite precedence orders, so a name in several skip sets could be
    # labeled "skew guard" per-line but counted under --skip in the
    # summary). Precedence: explicit --skip > skew guard > scale guard.
    manual = args.skip & set(queries)
    skew_skipped = (set(skew) & set(queries)) - manual
    guard_skipped = (auto & set(queries)) - manual - skew_skipped
    skip_label = {n: "--skip" for n in manual}
    skip_label.update({n: "skew guard" for n in skew_skipped})
    skip_label.update({n: "scale guard" for n in guard_skipped})

    n_hash = n_rows_only = n_band = n_fail = 0
    for name, q in queries.items():
        gc.collect()  # release prior queries' checkpointed lineage (see bench.py)
        if name in skip_label:
            print(f"{name:40s} skip  ({skip_label[name]})", flush=True)
            continue
        t0 = time.monotonic()
        try:
            df = q.build(spark, args.sf_dir)
            if q.oracle is not None:
                kind, problems = check(q, df, con)
                ok = not problems
            else:
                ok = df.count() >= 1
                problems = [] if ok else ["empty result"]
                kind = "rows"
        except Exception as e:  # noqa: BLE001
            ok, kind, problems = False, "err", [f"{type(e).__name__}: {e}"[:300]]
        dt = time.monotonic() - t0
        if ok and kind == "hash":
            n_hash += 1
        elif ok and kind == "band":
            n_band += 1
        elif ok:
            n_rows_only += 1
        else:
            n_fail += 1
        status = "OK" if ok else "FAIL"
        print(f"{name:40s} {kind:5s} {status:4s} {dt:6.2f}s"
              + ("" if ok else "  " + "; ".join(problems[:3])), flush=True)

    total = len(queries) - len(skip_label)
    print(
        f"\nSWEEP {args.sf_dir}: {n_hash} hash-matched + {n_band} band-matched + "
        f"{n_rows_only} rows-only OK "
        f"= {n_hash + n_band + n_rows_only}/{total} green, {n_fail} failed"
        + (f" ({len(guard_skipped)} skipped by scale guard: {sorted(guard_skipped)})" if guard_skipped else "")
        + (f" ({len(skew_skipped)} skipped by skew guard: {sorted(skew_skipped)})" if skew_skipped else "")
        + (f" ({len(manual)} skipped by --skip: {sorted(manual)})" if manual else "")
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
