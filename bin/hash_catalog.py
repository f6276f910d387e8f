#!/usr/bin/env python
"""Canonical value-hash of every hash-oracled catalog query, printed as
one JSON object {query_name: md5_hex}.

Purpose: partition/config perturbation testing (VERDICT r4 item 2). A
`round(avg(<double>))` expression can be order-dependent — its 4th
decimal flips for boundary values under a different partition count or
thread count, which is exactly how t12 went red in the driver's
environment while passing every single-config local check. Running this
script under two different sessions and diffing the hashes catches that
bug class for the WHOLE catalog at once:

    SPARK_GRAFT_CPUS=4  python bin/hash_catalog.py --shuffle 2  --sf ... --out a.json
    SPARK_GRAFT_CPUS=32 python bin/hash_catalog.py --shuffle 32 --sf ... --out b.json
    diff a.json b.json

The digest is ``tests/oracle_check.value_hash``: an md5 over the sorted
column names, each column's Spark type and the rows rendered the way
the driver's comparator sees them (columns sorted by name, rows sorted,
floats via repr: full bit pattern, no tolerance). Queries with no
oracle (rows-only by contract: run-varying timings, probabilistic
candidate sets) are hashed only when named in --only; m08's row holds
two wall times (``total_time_ms``, ``time_per_epoch_ms``), so its
digest moves from run to run. tests/test_perturbation.py wires this
into pytest.

Fails loudly: an unknown --only name exits 2, and an entry that raised
is written as ``ERROR:…`` and then the script exits 1, so a
parent/change diff can never pass on two equal errors.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--shuffle", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", type=lambda a: set(a.split(",")), default=None,
                    help="comma-separated query names")
    args = ap.parse_args()

    from sketchmlflink_spark.registry import all_queries
    from sketchmlflink_spark.session import get_spark
    from tests.oracle_check import value_hash

    queries = all_queries()
    if args.only is not None:
        unknown = args.only - set(queries)
        if unknown:
            print(f"--only names not in registry: {sorted(unknown)}", file=sys.stderr)
            sys.exit(2)
        queries = {n: q for n, q in queries.items() if n in args.only}
    else:
        # rows-only by contract → nondeterministic by contract
        queries = {n: q for n, q in queries.items() if q.oracle is not None}

    spark = get_spark("sketchmlflink-hashcat", shuffle_partitions=args.shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    import gc

    out: dict[str, str] = {}
    for name, q in queries.items():
        gc.collect()  # release prior queries' checkpointed lineage (see bench.py)
        try:
            out[name] = value_hash(q.build(spark, args.sf))
        except Exception as e:  # noqa: BLE001 — written, then the exit code fails
            out[name] = f"ERROR:{type(e).__name__}: {e}"[:300]
    payload = json.dumps(out, indent=0, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(payload)
    else:
        print(payload)
    spark.stop()
    errors = sorted(n for n, v in out.items() if v.startswith("ERROR:"))
    if errors:
        print(f"entries raised: {errors}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
