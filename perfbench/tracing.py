"""The traced run: spans around the benchmark's calls into the program,
each in its own Spark job group, with counts read from Spark's status
store as soon as each execution finishes.

Spans nest run -> pass -> execution -> {build, plan, exec}. Counts come
from ``StatusTracker`` (jobs per group) and from the UI REST API on
localhost (``/jobs``, ``/stages``, ``/sql``, ``/storage/rdd``). Spans are
kept in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager

# SQL metrics of the pandas-UDF nodes (MapInPandas, FlatMapGroupsInPandas,
# ArrowEvalPython, ...) -> per-layer metric. A reused Python worker takes
# its start time when it finishes its previous task (pyspark/worker.py
# main() stamps it before blocking on the next task), so its boot time
# reads 0 and its init time includes the idle wait between tasks.
PYTHON_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
    "number of output rows": "python.rows_received",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
}
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")

# per-stage REST fields summed into a span -> (name, scale to the unit)
STAGE_FIELDS = {
    "executorRunTime": ("executor.run_ms", 1),
    "executorCpuTime": ("executor.cpu_ms", 1e-6),
    "jvmGcTime": ("executor.gc_ms", 1),
    "inputBytes": ("input.bytes", 1),
    "inputRecords": ("input.records", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle.fetch_wait_ms", 1),
    "memoryBytesSpilled": ("spill.memory_bytes", 1),
    "diskBytesSpilled": ("spill.disk_bytes", 1),
    "numTasks": ("sched.tasks", 1),
    "numFailedTasks": ("sched.task_failures", 1),
}

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str) -> float:
    """A SQL metric as the UI renders it -> bytes, ms or a count.

    Accepts ``10,000``, ``56.0 B``, ``14 ms`` and the per-task form
    ``total (min, med, max ...)\\n1.2 KiB (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    num, _, unit = text.split(" (")[0].strip().partition(" ")
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit:
        raise ValueError(f"unknown metric unit in {text!r}")
    return value


def module_of(job_name: str) -> str:
    """Attribute a job to the ``remap_spark`` module whose call started it.

    Job names carry the call site, ``<method> at <file>:<line>``.
    ``queries/*`` is one module; a package ``__init__`` is its package."""
    m = re.search(r"remap_spark/([\w/]+)\.py", job_name)
    if not m:
        return "other"
    parts = m.group(1).split("/")
    if parts[0] == "queries":
        return "queries"
    if parts[-1] == "__init__":
        return parts[-2] if len(parts) > 1 else "remap_spark"
    return parts[-1]


# A traced run reads every execution's jobs and stages from the status
# store, which by default keeps 1,000 of each (and 1,000 SQL executions)
# and evicts skipped stages first, even those of the execution that just
# ran; fixpoint_small starts ~1,000 jobs and ~2,000 stages in a run. Set
# as JVM system properties, which SparkConf reads, for traced runs only.
RETAIN_STATUS = " ".join(
    f"-D{k}=100000"
    for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")
)


class EvictedError(RuntimeError):
    """The status store dropped counts of a span before they were read."""


class CallSites:
    """Names every job after the innermost ``remap_spark`` frame that led
    to it, as PySpark does for RDD actions but for DataFrame actions too.

    Wraps py4j's method call: before each call into the JVM, the Spark
    call site is set to ``<java method> at <file>:<line>`` of that frame,
    so the jobs the call starts (and the broadcast jobs it spawns, which
    inherit local properties) carry it as their name."""

    def __init__(self, sc):
        from py4j import java_gateway

        self._member = java_gateway.JavaMember
        self._orig = self._member.__call__
        self._jsc = sc._jsc
        self._last: str | None = None

    def install(self) -> None:
        orig, jsc, this = self._orig, self._jsc, self

        def call(member, *args):
            if member.name == "setCallSite":  # PySpark's own call-site sync
                this._last = None
                return orig(member, *args)
            site = this._site(member.name)
            if site != this._last:
                this._last = site
                orig(jsc.setCallSite, site)
            return orig(member, *args)

        self._member.__call__ = call

    def uninstall(self) -> None:
        self._member.__call__ = self._orig

    @staticmethod
    def _site(method: str) -> str:
        import sys

        f = sys._getframe(2)
        while f is not None:
            path = f.f_code.co_filename
            i = path.rfind("remap_spark/")
            if i >= 0:
                return f"{method} at {path[i:]}:{f.f_lineno}"
            f = f.f_back
        return f"{method} at benchmark"


class StatusStore:
    """Reads of Spark's status store for one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))


class Tracer:
    """Spans in memory. A span of kind build/plan/exec runs in its own job
    group; when an execution span closes, its children wait for
    ``read_pending``, which reads their counts and checks for eviction."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._children: list[dict] = []
        self._pending: list[dict] = []
        self.cached_bytes_peak = 0.0

    @contextmanager
    def span(self, kind: str, name: str):
        sp = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "kind": kind,
            "name": name,
        }
        sc = self.spark.sparkContext
        if kind in ("build", "plan", "exec"):
            sp["group"] = f"perfbench-{sp['id']}"
            sp["first_job"] = self.store.next_job_id()
            sc.setJobGroup(sp["group"], f"{kind} {name}", False)
            self._children.append(sp)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if "group" in sp:
                sp["end_job"] = self.store.next_job_id()
                sc.setJobGroup("perfbench-idle", "between spans", False)
            if kind == "execution":
                self._pending, self._children = self._children, []

    def catalyst(self, df, sp: dict) -> None:
        """Plan ``df`` and record Catalyst's phase times on the span."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            sp[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0

    def read_pending(self) -> None:
        """Read the counts of the last execution's spans. The caller times
        the execution first and reads before the next one starts, so the
        reads stay out of the timing and ahead of the status store's
        eviction."""
        if self._pending:
            self._read_counts(self._pending)
            self._pending = []

    def _read_counts(self, spans: list[dict]) -> None:
        store = self.store
        store.drain()
        jobs_rest = {j["jobId"]: j for j in store.get("/jobs")}
        stages_rest: dict[int, list[dict]] = {}
        for s in store.get("/stages"):
            stages_rest.setdefault(s["stageId"], []).append(s)
        sql = self._sql_since(min(sp["first_job"] for sp in spans))
        for sp in spans:
            ids = store.group_jobs(sp["group"])
            want = list(range(sp["first_job"], sp["end_job"]))
            if ids != want or any(j not in jobs_rest for j in want):
                raise EvictedError(
                    f"span {sp['kind']} {sp['name']}: jobs {want} started but the "
                    f"status store holds {ids}; raise spark.ui.retainedJobs or read sooner"
                )
            stage_ids = sorted({s for j in ids for s in jobs_rest[j]["stageIds"]})
            missing = [s for s in stage_ids if s not in stages_rest]
            if missing:
                raise EvictedError(
                    f"span {sp['kind']} {sp['name']}: stages {missing[:5]} evicted"
                )
            sp["jobs"] = len(ids)
            sp["stages"] = len(stage_ids)
            names = [jobs_rest[j]["name"] for j in ids]
            sp["job_modules"] = dict(Counter(module_of(n) for n in names))
            sp["cut_jobs"] = sum(n.startswith(("localCheckpoint", "checkpoint")) for n in names)
            counts = Counter()
            for s in stage_ids:
                for attempt in stages_rest[s]:
                    for field, (name, scale) in STAGE_FIELDS.items():
                        counts[name] += attempt.get(field, 0) * scale
            jobset = set(ids)
            for e in sql:
                if jobset.isdisjoint(e["successJobIds"] + e["failedJobIds"]):
                    continue
                for node in e["nodes"]:
                    if not PYTHON_NODE.search(node["nodeName"]):
                        continue
                    for m in node["metrics"]:
                        if m["name"] in PYTHON_METRICS:
                            counts[PYTHON_METRICS[m["name"]]] += parse_metric(m["value"])
            sp["counts"] = dict(counts)
        cached = sum(r["memoryUsed"] + r["diskUsed"] for r in store.get("/storage/rdd"))
        self.cached_bytes_peak = max(self.cached_bytes_peak, float(cached))

    def _sql_since(self, first_job: int) -> list[dict]:
        """SQL executions that ran a job numbered ``first_job`` or later."""
        lite = self.store.get("/sql?details=false&planDescription=false&length=100000")
        start = next(
            (i for i, e in enumerate(lite)
             if any(j >= first_job for j in e["successJobIds"] + e["failedJobIds"])),
            None,
        )
        if start is None:
            return []
        return self.store.get(
            f"/sql?details=true&planDescription=false&offset={start}&length={len(lite) - start}"
        )


def layer_metrics(spans: list[dict], passes: int, cores: int, cached_peak: float) -> dict[str, float]:
    """Per-layer metrics: sums over the timed executions, per pass."""
    by_kind: dict[str, list[dict]] = {}
    for sp in spans:
        by_kind.setdefault(sp["kind"], []).append(sp)

    def total(kind: str, key: str) -> float:
        return sum(sp.get(key, 0.0) for sp in by_kind.get(kind, ()))

    def wall(kind: str) -> float:
        return sum(sp["end"] - sp["start"] for sp in by_kind.get(kind, ()))

    def count(key: str) -> float:
        return sum(
            sp.get("counts", {}).get(key, 0.0)
            for kind in ("build", "plan", "exec")
            for sp in by_kind.get(kind, ())
        )

    work = [sp for k in ("build", "plan", "exec") for sp in by_kind.get(k, ())]
    modules = Counter()
    for sp in work:
        modules.update(sp["job_modules"])
    jobs = total("build", "jobs") + total("plan", "jobs") + total("exec", "jobs")
    busy_wall = wall("build") + wall("plan") + wall("exec")
    m = {
        "build.s": wall("build"),
        "build.jobs": total("build", "jobs"),
        "build.stages": total("build", "stages"),
        "catalyst.analysis_ms": total("plan", "catalyst.analysis_ms"),
        "catalyst.optimization_ms": total("plan", "catalyst.optimization_ms"),
        "catalyst.planning_ms": total("plan", "catalyst.planning_ms"),
        "plan.s": wall("plan"),
        "exec.s": wall("exec"),
        "exec.jobs": total("exec", "jobs"),
        "exec.stages": total("exec", "stages"),
        "sched.tasks": count("sched.tasks"),
        "sched.task_failures": count("sched.task_failures"),
        "sched.ms_per_job": 1000.0 * busy_wall / jobs if jobs else 0.0,
        "executor.run_s": count("executor.run_ms") / 1000.0,
        "executor.cpu_s": count("executor.cpu_ms") / 1000.0,
        "executor.gc_s": count("executor.gc_ms") / 1000.0,
        "executor.busy_frac": count("executor.run_ms") / 1000.0 / (busy_wall * cores)
        if busy_wall else 0.0,
        "cut.eager_jobs": float(sum(sp["cut_jobs"] for sp in work)),
    }
    for key in ("input.bytes", "input.records", "shuffle.write_bytes",
                "shuffle.read_bytes", "shuffle.fetch_wait_ms",
                "spill.memory_bytes", "spill.disk_bytes", *PYTHON_METRICS.values()):
        m[key] = count(key)
    for mod in ("pregel", "dedup", "text", "mapreduce", "queries"):
        m[f"jobs.{mod}"] = float(modules.get(mod, 0))
    m["jobs.other"] = float(sum(v for k, v in modules.items()
                                if k not in ("pregel", "dedup", "text", "mapreduce", "queries")))
    out = {k: v / passes for k, v in m.items()}
    # ratios and peaks are not per-pass sums
    for k in ("sched.ms_per_job", "executor.busy_frac"):
        out[k] = m[k]
    out["storage.cached_bytes"] = cached_peak
    return out
