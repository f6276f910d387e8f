"""The ``catalog_sf01`` workload: a fixed mix of registry entries run
the way ``__spark_entry__.py`` callers run them,
``registry.all_queries()[name].build(spark, fixture).count()``, over the
repository's sf0.1-scale fixture.

One entry per operator module plus two streaming replays (st01 keeps
windowed state, st16 lands a parquet sink), all with a DuckDB oracle.
Each pass runs the mix in an order permuted by the seed. The first pass
is the warm-up: it collects every answer, and after the timed region each
answer is hash-compared with its registered DuckDB oracle. Every timed
execution must return the warm-up's row count.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from measure import Result, geomean, median

FIXTURE = "testdata_sf0.1clump"
SETUP_REPS = 3

MIX = (
    "q16_supplier_stats_by_nation",  # relational: join + aggregate
    "d02_dedup_normalized",         # dedup
    "s08_range_search_cosine",      # similarity: cosine range search
    "t01_token_stats_by_lang",      # textops
    "sk05_heavy_hitters",           # sketch_aggs
    "p05_stratified_exact_k",       # pipeline
    "mm04_frame_exact_dedup",       # multimodal
    "st01_stream_hourly_counts",    # streaming: windowed state
    "st16_stream_heavy_hitters",    # streaming: parquet sink
)


def short(name: str) -> str:
    return name.split("_", 1)[0]


def _canon(v) -> str:
    """Canonical text of one cell. Floats keep 12 significant digits, so
    an aggregate summed in another order still hashes the same."""
    import decimal

    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return repr(float(f"{v:.12g}") + 0.0)
    if isinstance(v, decimal.Decimal):
        return _canon(float(v))
    if isinstance(v, int):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    return str(v)


def answer_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode() + b"\x1e")
    return h.hexdigest()[:16]


def _oracle_digests(fixture: str, queries) -> dict[str, str]:
    import duckdb

    from sketchmlflink_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(fixture, t + '.parquet')}')")
        out = {}
        for name in MIX:
            cur = con.execute(queries[name].oracle)
            out[name] = answer_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _ingest(spark, fixture: str) -> int:
    from sketchmlflink_spark.sources.tables import TABLE_NAMES, load_table

    return sum(load_table(spark, fixture, t).count() for t in TABLE_NAMES)


def run(name: str, spark, seed: int, seconds: float, trace: bool, tracer, stats, work_dir: str) -> Result:
    from sketchmlflink_spark import registry

    from measure import streaming_listener

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(root, FIXTURE)
    if not os.path.isdir(fixture):
        raise FileNotFoundError(f"fixture {fixture} not found")
    queries = registry.all_queries()
    res = Result()
    rng = random.Random(seed)
    events = streaming_listener(spark) if trace else None

    read_ms = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("sources.load_table"):
            rows = _ingest(spark, fixture)
        res.setup_reps_s.append(time.perf_counter() - t0)
        read_ms.append(res.setup_reps_s[-1] * 1e3)
    res.layers["sources.read_ms"] = median(read_ms)
    res.layers["sources.rows"] = float(rows)
    res.layers["sources.input_bytes"] = float(sum(
        os.path.getsize(os.path.join(fixture, f)) for f in os.listdir(fixture)))

    # warm-up pass: collect every answer for the oracle check
    got: dict[str, tuple[int, str]] = {}

    def collect(q):
        df = queries[q].build(spark, fixture)
        rows = df.collect()
        return len(rows), answer_digest(df.columns, [tuple(r) for r in rows])

    t0 = time.perf_counter()
    for q in rng.sample(MIX, len(MIX)):
        with tracer.span(f"catalog.{short(q)}.warmup"):
            out = res.attempt(q, collect, q)
        if out is not None:
            got[q] = out
    res.warmup_s = time.perf_counter() - t0

    def execute(q):
        t0 = time.perf_counter()
        with tracer.span(f"catalog.{short(q)}.build"):
            df = queries[q].build(spark, fixture)
        t1 = time.perf_counter()
        with tracer.span(f"catalog.{short(q)}.action"):
            n = df.count()
        return n, (t1 - t0) * 1e3, (time.perf_counter() - t1) * 1e3

    # timed region: executions until the time is used, at least one whole
    # pass (two in a traced run) so every entry has a sample; in a traced
    # run every second execution is traced (alternating per entry across
    # passes), the others give the overhead baseline
    per_q: dict[str, dict[str, list[float]]] = {q: {} for q in MIX}
    op_ms: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    windows: list[tuple[str, float, float]] = []
    persisted = 0
    min_passes = 2 if trace else 1
    t_start = time.perf_counter()
    t_end = t_start + seconds
    first_job = stats.last_job_id()
    p = 0
    while p < min_passes or time.perf_counter() < t_end:
        p += 1
        for q in rng.sample(MIX, len(MIX)):
            if p > min_passes and time.perf_counter() >= t_end:
                break
            traced = trace and (MIX.index(q) + p) % 2 == 0
            last_job = stats.last_job_id() if traced else None
            w0 = time.time()
            out = res.attempt(q, execute, q)
            if out is None:
                continue
            n, build_ms, action_ms = out
            if q in got and n != got[q][0]:
                res.fail(f"{q}: {n} rows, warm-up collected {got[q][0]}")
            op_ms[traced].setdefault(q, []).append(build_ms + action_ms)
            if traced:
                windows.append((q, w0, time.time()))
                stats.drain()
                s = stats.summarize(stats.job_ids_after(last_job))
                m = per_q[q]
                for k, v in (("build_ms", build_ms), ("action_ms", action_ms),
                             ("tasks", s["tasks"]), ("task_cpu_ms", s["task_cpu_ms"]),
                             ("shuffle_bytes", s["shuffle_bytes"])):
                    m.setdefault(k, []).append(v)
                persisted = max(persisted, spark.sparkContext._jsc.getPersistentRDDs().size())
        if p == 1:
            stats.drain()
            pass1_last_job = stats.last_job_id()
    res.timed = (t_start, time.perf_counter())
    typical = {t: {q: median(v) for q, v in m.items()} for t, m in op_ms.items()}
    # a pass made of each entry's median execution, so a pass cut at the
    # deadline does not weigh the entries it reached
    res.throughput.append(len(typical[False]) * 1e3 / max(sum(typical[False].values()), 1e-9))
    res.op_ms = geomean(list(typical[False].values()))
    res.traced_op_ms = geomean(list(typical[True].values()))
    slowest = max(typical[False], key=typical[False].get, default="-")
    res.op_ms_tail = typical[False].get(slowest, 0.0)
    n_ops = sum(len(v) for m in op_ms.values() for v in m.values())
    res.notes["executions"] = f"{n_ops} in {p} passes of {len(MIX)} queries"
    res.notes["op_ms_tail"] = f"slowest entry: {slowest}"

    # Spark shuffle bytes per query over the first timed pass, the one
    # whole pass every run makes, read after the timed region so the
    # readout costs no measured time
    stats.drain()
    jobs = [j for j in stats.job_ids_after(first_job) if j <= pass1_last_job]
    res.exchange_bytes.append(stats.summarize(jobs)["shuffle_bytes"] / len(MIX))

    # oracle check, outside the timed region
    with tracer.span("catalog.oracle_check"):
        want = res.attempt("DuckDB oracle", _oracle_digests, fixture, queries)
    for q, (_, digest) in got.items():
        if want is not None and digest != want[q]:
            res.fail(f"{q}: answer digest {digest} != oracle {want[q]}")

    if trace:
        for q, m in per_q.items():
            for k, v in m.items():
                res.layers[f"catalog.{short(q)}.{k}"] = median(v)
        res.layers["catalog.persisted_rdds_after"] = float(persisted)
        stats.drain()
        for q in MIX:
            if not q.startswith("st"):
                continue
            mine = [e for e in list(events) if any(wq == q and a <= e["ts"] <= b for wq, a, b in windows)]
            runs = max(1, sum(1 for wq, _, _ in windows if wq == q))
            res.layers[f"streaming.{short(q)}.batches"] = len(mine) / runs
            for k in ("add_batch_ms", "commit_ms", "state_rows"):
                res.layers[f"streaming.{short(q)}.{k}"] = sum(e[k] for e in mine) / runs
    return res
