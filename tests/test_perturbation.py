"""Partition/config perturbation determinism for the hash catalog
(VERDICT r4 item 2).

Round 4's only driver red (t12) was a `round(avg(double))` whose 4th
decimal flipped under the driver's session config while every
single-config local check passed — proof that one-config testing cannot
catch order-dependent float reductions. This module runs the catalog's
hash-oracled queries in TWO subprocess sessions that differ on both
perturbation axes at once — local[4] + spark.sql.shuffle.partitions=2
vs local[32] + 32 — and asserts every query's canonical value hash
(columns sorted, rows sorted, floats via repr: zero tolerance) is
identical. Subprocesses because a JVM's master can't change in-process.

Two passes:
  * full catalog at sf0.001 (every hash-oracled query, ~2.5 min/config)
  * the float-aggregate-sensitive subset (oracles containing
    round(avg|sum|stddev|corr|regr|var …) plus the t11/t12/d14
    candidates from VERDICT r4) at sf0.01, where more data means more
    chances for a boundary value to exist

Queries with no oracle are excluded — rows-only by contract means
nondeterministic by contract (timings, probabilistic candidate sets).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from tests.conftest import REPO_ROOT, SF_MID, SF_SMALL

HASHCAT = os.path.join(REPO_ROOT, "bin", "hash_catalog.py")

# Configs chosen to move BOTH order-dependence axes at once: the number
# of input/shuffle partitions (summation grouping) and the thread count
# (interleaving / AQE coalesce decisions).
CONFIG_A = {"cpus": "4", "shuffle": "2"}
CONFIG_B = {"cpus": "32", "shuffle": "32"}


def _run(config: dict, sf: str, out: str, only: str | None = None) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=config["cpus"])
    cmd = [sys.executable, HASHCAT, "--sf", sf, "--shuffle", config["shuffle"], "--out", out]
    if only:
        cmd += ["--only", only]
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, cwd=REPO_ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out) as f:
        return json.load(f)


def test_hash_catalog_fails_loudly(tmp_path):
    """An unknown --only name exits 2; an entry that raised is written
    as ``ERROR:…`` and the run exits 1, so two equal errors on a
    parent/change pair never diff clean."""
    def run(*args):
        return subprocess.run([sys.executable, HASHCAT, *args], capture_output=True, cwd=REPO_ROOT)

    assert run("--only", "no_such_entry").returncode == 2
    out = tmp_path / "err.json"
    missing = str(tmp_path / "missing_sf")
    assert run("--sf", missing, "--only", "q01_pricing_summary", "--out", str(out)).returncode == 1
    assert json.loads(out.read_text())["q01_pricing_summary"].startswith("ERROR:")


def _assert_same(a: dict, b: dict) -> None:
    assert sorted(a) == sorted(b)
    diffs = {k: (a[k], b[k]) for k in a if a[k] != b[k]}
    errs = {k: v for k, v in {**a, **b}.items() if str(v).startswith("ERROR")}
    assert not errs, f"queries errored during perturbation run: {errs}"
    assert not diffs, (
        "order-dependent results detected (hash differs between "
        f"local[4]/sp=2 and local[32]/sp=32): {sorted(diffs)}"
    )


@pytest.mark.slow
def test_full_catalog_hashes_config_invariant_sf0001(tmp_path):
    a = _run(CONFIG_A, SF_SMALL, str(tmp_path / "a.json"))
    b = _run(CONFIG_B, SF_SMALL, str(tmp_path / "b.json"))
    assert len(a) >= 100  # the catalog's hash-oracled surface
    _assert_same(a, b)


def _sensitive_names() -> list[str]:
    from sketchmlflink_spark.registry import all_queries

    # Matches the raw order-dependent forms AND the round-7/8 exact
    # conversions (CAST(round(sum(…), money recipe; round(CAST(sum(…,
    # exact-sum/count averages; sum(CAST(round(…, the 12-dp per-element
    # fix): the converted queries CLAIM order-independence, and this
    # perturbation run is precisely the proof of that claim.
    pat = re.compile(
        r"round\s*\(\s*(avg|sum|stddev|corr|regr|var)"
        r"|CAST\s*\(\s*round\s*\(\s*sum"
        r"|round\s*\(\s*CAST\s*\(\s*sum"
        r"|sum\s*\(\s*CAST\s*\(\s*round",
        re.I,
    )
    names = [n for n, q in all_queries().items() if q.oracle and pat.search(q.oracle)]
    for extra in ("t11_tfidf_top_terms", "t12_dsir_importance",
                  "d14_minhash_estimate_accuracy"):
        if extra not in names:
            names.append(extra)
    return names


@pytest.mark.slow
def test_float_sensitive_hashes_config_invariant_sf001(tmp_path):
    only = ",".join(_sensitive_names())
    a = _run(CONFIG_A, SF_MID, str(tmp_path / "a.json"), only=only)
    b = _run(CONFIG_B, SF_MID, str(tmp_path / "b.json"), only=only)
    assert len(a) >= 20
    _assert_same(a, b)


# Hot-key fixture (VERDICT r8 item 7): the two passes above run on
# uniform fixtures, but a 30%-of-rows hot key changes the partial-agg
# combine-tree shape — exactly where order-dependence would resurface
# after surviving the uniform gate. Regenerate the fixture with
#   python bin/make_sf.py --src /root/testdata/sf0.01 \
#       --dst testdata_sf001skew --factor 1 --skew 0.3
SKEW_FIXTURE = os.path.join(REPO_ROOT, "testdata_sf001skew")


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(SKEW_FIXTURE),
    reason="skew fixture not built (bin/make_sf.py --skew 0.3)",
)
def test_float_sensitive_hashes_config_invariant_on_skew(tmp_path):
    only = ",".join(_sensitive_names())
    a = _run(CONFIG_A, SKEW_FIXTURE, str(tmp_path / "a.json"), only=only)
    b = _run(CONFIG_B, SKEW_FIXTURE, str(tmp_path / "b.json"), only=only)
    assert len(a) >= 20
    _assert_same(a, b)
