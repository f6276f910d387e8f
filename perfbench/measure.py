"""Measurement helpers shared by the workloads: spans, percentiles,
Spark status-store readouts, streaming progress capture, process-tree
memory and the machine-speed probe.

Everything here observes the program from outside: it wraps calls into
the package's public functions and reads what Spark itself records. No
program module is patched.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Result:
    """What a workload hands back to the runner."""

    setup_reps_s: list[float] = field(default_factory=list)  # repeated set-up
    warmup_s: float = 0.0
    op_ms: float = 0.0  # typical operation time, untraced
    op_ms_tail: float = 0.0
    traced_op_ms: float = 0.0  # typical operation time, traced
    throughput: list[float] = field(default_factory=list)  # items/s per unit of work
    exchange_bytes: list[float] = field(default_factory=list)  # per operation
    timed: tuple[float, float] = (0.0, 0.0)  # perf_counter() at the timed region's start and end
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict[str, str] = field(default_factory=dict)

    def attempt(self, what: str, fn, *args, **kw):
        """Run one operation; an exception counts as one failed operation
        and does not abort the run. Returns fn's value or None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            self.fail(f"{what}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            return None

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


# ----------------------------------------------------------------- stats
def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def tail(values) -> tuple[int, float]:
    """(percentile, value): the highest percentile with ten samples
    beyond it, but at least p75 when there are fewer than forty samples.
    Nearest rank."""
    n = len(values)
    if n == 0:
        return 75, 0.0
    rank = max(n - 10, math.ceil(0.75 * n))
    return (100 * rank) // n, float(sorted(values)[rank - 1])


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled, a
    span costs one branch; enabled, two clock reads and a list append."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def table(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total ms, self ms) per span name. Self time is a
        span's duration minus the part its child spans cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        agg: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = (s["end"] - s["start"]) * 1e3
            a = agg.setdefault(s["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += dur
            a[2] += dur - child_ms.get(s["id"], 0.0)
        return [(k, int(v[0]), v[1], v[2]) for k, v in agg.items()]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------- memory
def _proc_tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []  # (perf_counter(), bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), _proc_tree_rss_bytes(pid)))
            self._stop.wait(self.interval)

    @property
    def peak(self) -> int:
        return max((b for _, b in self.samples), default=0)

    def median_between(self, t0: float, t1: float) -> float:
        return median([b for t, b in self.samples if t0 <= t <= t1])

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -------------------------------------------------------- machine probe
def calib_ms(spark) -> float:
    """Fixed work, timed: a seeded numpy matmul plus a JVM range-sum.
    Run before and after the measured work, it shows machine drift."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((1000, 1000))
    t0 = time.perf_counter()
    _ = a @ a
    spark.range(100_000_000).selectExpr("sum(id)").collect()
    return (time.perf_counter() - t0) * 1e3


# ------------------------------------------------------- Spark counters
def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkStats:
    """Job, stage and task counters read from Spark's status store, which
    is populated even with the web UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until queued listener events (job ends, streaming
        progress) have been delivered."""
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    @contextmanager
    def job_group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group_job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _newest_first(self):
        """Yield job ids from the status store, newest first."""
        jobs = self.store.jobsList(None)  # a Scala Seq ordered by job id
        n = jobs.length()
        if n and jobs.apply(0).jobId() > jobs.apply(n - 1).jobId():
            order = range(n)
        else:
            order = range(n - 1, -1, -1)
        for i in order:
            yield jobs.apply(i).jobId()

    def last_job_id(self) -> int:
        return next(self._newest_first(), -1)

    def job_ids_after(self, last_id: int) -> list[int]:
        """Ids of every job submitted after ``last_id``, whatever its job
        group (streaming micro-batches run under their own group)."""
        out = []
        for jid in self._newest_first():
            if jid <= last_id:
                break
            out.append(jid)
        return sorted(out)

    def summarize(self, job_ids) -> dict:
        """Totals over ``job_ids``. ``busy_ms`` is each stage's summed task
        run time spread over the cores it could use; ``job_ms - busy_ms``
        is then time the jobs spent waiting on scheduling, stragglers and
        the driver."""
        s = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0.0, "task_cpu_ms": 0.0,
             "shuffle_bytes": 0, "job_ms": 0.0, "busy_ms": 0.0}
        seen = set()
        for jid in job_ids:
            jd = self.store.job(jid)
            s["jobs"] += 1
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is not None and end is not None:
                s["job_ms"] += end - start
            ids = jd.stageIds()
            for k in range(ids.length()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                n = st.numCompleteTasks()
                if n == 0:  # skipped: its shuffle output was reused
                    continue
                s["stages"] += 1
                s["tasks"] += n
                s["task_run_ms"] += st.executorRunTime()
                s["task_cpu_ms"] += st.executorCpuTime() / 1e6
                s["shuffle_bytes"] += st.shuffleWriteBytes()
                s["busy_ms"] += st.executorRunTime() / min(n, self.cores)
        return s


# --------------------------------------------------- streaming progress
def streaming_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    as (trigger start, wall ms spent in addBatch, commit ms, batch id,
    state rows). Returns the list it appends to."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []
    lock = threading.Lock()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            rec = {
                "ts": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "add_batch_ms": float(d.get("addBatch", 0)),
                "commit_ms": float(d.get("commitOffsets", 0)) + sum(float(o.commitTimeMs) for o in ops),
                "state_rows": sum(int(o.numRowsUpdated) for o in ops),
                "rows": int(p.numInputRows),
            }
            with lock:
                events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return events
