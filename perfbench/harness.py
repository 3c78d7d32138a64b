"""Session lifetime, statistics and the traced-run machinery.

Nothing here reaches inside the package: spans wrap calls into the
package's public functions from outside, and Spark counts come from the
application status store, attributed to a span by the job group the span
set on its thread (or, for untagged jobs, by job-id range — sound because
the benchmark is one closed-loop client).
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


# -- statistics ------------------------------------------------------------

# A percentile is reported only with at least this many samples beyond it.
PERCENTILE_MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest rank), or None unless at
    least PERCENTILE_MIN_BEYOND samples lie beyond it: p90 needs 100
    samples. The median is reported by ``median`` together with its sample
    count."""
    n = len(samples)
    if n == 0 or n * (100 - q) / 100 < PERCENTILE_MIN_BEYOND:
        return None
    s = sorted(samples)
    rank = max(1, -(-n * q // 100))  # ceil(n*q/100), nearest-rank method
    return s[int(rank) - 1]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def quartiles(values: list[float]) -> dict:
    """Median and quartiles as ``statistics.quantiles(n=4)`` gives them, and
    the inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": q2, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / q2 if q2 else None}


# -- Spark session ---------------------------------------------------------

class Session:
    """Owns the driver JVM for one benchmark run.

    ``start()`` builds a SparkSession through the package's
    ``build_spark_session`` (launching the JVM the first time, restarting
    only the SparkContext afterwards); ``close()`` shuts the gateway, ends
    the JVM process and waits for it.
    """

    def __init__(self, work: str, cores: int) -> None:
        self.work = work
        self.cores = cores
        self.spark = None
        self._jvm_proc = None
        self.conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
            # status-store retention: one harvest covers one operation
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "50",
        }
        for sub in ("spark-local", "tmp", "derby"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)

    def start(self):
        from hudi_spark_utilities_plus_spark.session import build_spark_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_spark_session(
            app_name="perfbench", master=f"local[{self.cores}]", conf=self.conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self._jvm_proc = SparkContext._gateway.proc
        return self.spark

    def reset_peak_rss(self) -> None:
        """Restart the peak-RSS counters of the driver JVM and this process
        from their current RSS."""
        for pid in (self._jvm_proc.pid, "self"):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this process since the last
        ``reset_peak_rss``."""
        return sum(vm_hwm_mb(pid) for pid in (self._jvm_proc.pid, "self"))

    def close(self) -> None:
        """End the driver JVM and wait for it to exit. Spark keeps every
        file of the run under the work directory, which the caller
        deletes, so the JVM is killed instead of stopped gracefully,
        which would add about 4 s to every run."""
        from pyspark import SparkContext

        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.kill()
                proc.wait(timeout=30)


def vm_hwm_mb(pid) -> float:
    """Peak RSS (VmHWM) of a process, read from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


# -- Spark engine counts ---------------------------------------------------

def _status(sc):
    return sc._jsc.sc().statusStore()


def next_job_id(sc) -> int:
    return int(sc._jsc.sc().dagScheduler().nextJobId())  # py4j unboxes the AtomicInteger


def drain_listener(sc) -> None:
    """Let the status store catch up with the finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def harvest_jobs(sc, first: int, last: int) -> list[dict]:
    """Status-store records for jobs ``first <= id < last`` with their
    stages' metrics. Evicted jobs are skipped."""
    store = _status(sc)
    jobs = []
    for jid in range(first, last):
        try:
            j = store.job(jid)
        except Py4JJavaError:  # evicted from the store; nothing to count
            continue
        grp = j.jobGroup()
        sub, comp = j.submissionTime(), j.completionTime()
        stage_ids = j.stageIds()
        jobs.append({
            "id": jid,
            "group": grp.get() if grp.isDefined() else None,
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            "stages": [stage_ids.apply(i) for i in range(stage_ids.size())],
            "failed_tasks": j.numFailedTasks(),
        })
    return jobs


def harvest_stages(sc, stage_ids: set[int]) -> dict[int, dict]:
    store = _status(sc)
    out = {}
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store; nothing to count
            continue
        out[sid] = {
            "skipped": s.status().toString() == "SKIPPED",
            "tasks": s.numCompleteTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_ms": s.executorRunTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "spill": s.diskBytesSpilled(),
        }
    return out


def busy_interval_s(jobs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of the jobs' [start, end] intervals, clipped to
    [t0, t1]: the part of the window during which some Spark job ran."""
    iv = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- tracing ---------------------------------------------------------------

class Tracer:
    """In-memory spans around layer calls; written out only at the end.

    A span records name, parent, thread, wall start/end and, after
    ``attribute()``, the Spark jobs that ran inside it. While a span is open
    on a thread, jobs submitted from that thread carry the span's id as
    their job group, so concurrent spans (demux worker threads) keep their
    own jobs. With ``enabled=False`` every method is a no-op and no
    wrapper is installed.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened on other threads (demux workers) nest under the
        # client's innermost open span: the benchmark is a single client
        self._client_stack: list[int] = []
        self._client = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        stack = getattr(self._local, "stack", None)
        if stack is None:
            client = threading.get_ident() == self._client
            stack = self._local.stack = self._client_stack if client else []
        outer = stack or self._client_stack
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": outer[-1] if outer else None,
                   "thread": threading.get_ident(),
                   "job0": next_job_id(sc) if sc else None}
            self.spans.append(rec)
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", f"perfbench-span-{sid}")
        stack.append(sid)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec["job1"] = next_job_id(sc)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def attribute(self, sc, spans: list[dict]) -> list[dict]:
        """Harvest the jobs of the given top-level spans (all on the client
        thread) and hand each job to the innermost span that tagged it, or
        else to the top-level span whose job-id range holds it. Returns the
        harvested jobs."""
        if not self.enabled or not spans:
            return []
        drain_listener(sc)
        first = min(s["job0"] for s in spans)
        last = max(s["job1"] for s in spans)
        jobs = harvest_jobs(sc, first, last)
        stage_ids = {sid for j in jobs for sid in j["stages"]}
        stages = harvest_stages(sc, stage_ids)
        by_id = {s["id"]: s for s in self.spans}
        for j in jobs:
            owner = None
            if j["group"] and j["group"].startswith("perfbench-span-"):
                owner = by_id.get(int(j["group"].rsplit("-", 1)[1]))
            if owner is None:
                owner = next((s for s in spans if s["job0"] <= j["id"] < s["job1"]), None)
            if owner is not None:
                owner.setdefault("jobs", []).append(j)
            j["stage_rows"] = {s: stages[s] for s in j["stages"] if s in stages}
        return jobs


def span_s(s: dict) -> float:
    return s["t1"] - s["t0"]


def descendants(spans: list[dict], roots: list[dict]) -> list[dict]:
    """The roots and every span nested in one of them."""
    kids = defaultdict(list)
    for x in spans:
        if x["parent"] is not None:
            kids[x["parent"]].append(x)
    out, todo = [], list(roots)
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids[cur["id"]])
    return out


def span_jobs(s: dict, tracer: Tracer) -> list[dict]:
    """Jobs owned by the span or by any span nested in it."""
    return [j for x in descendants(tracer.spans, [s]) for j in x.get("jobs", [])]


def spark_totals(jobs: list[dict], wall_s: float, cores: int) -> dict:
    """Engine counts over a set of jobs, each stage counted once."""
    seen: dict[int, dict] = {}
    for j in jobs:
        for sid, row in j.get("stage_rows", {}).items():
            seen.setdefault(sid, row)
    rows = [r for r in seen.values() if not r["skipped"]]
    run_s = sum(r["run_ms"] for r in rows) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(rows),
        "spark.tasks": sum(r["tasks"] for r in rows),
        "spark.shuffle_write_bytes": sum(r["shuffle_write"] for r in rows),
        "spark.spill_bytes": sum(r["spill"] for r in rows),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in rows),
        "spark.executor_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }
