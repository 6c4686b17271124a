"""Per-layer tracing from outside the engine.

Counts and times the engine's public seams — ``tables.load``,
``DataFrame.localCheckpoint`` / ``checkpoint`` — by wrapping them for the
length of a traced pass, and reads Spark's own status stores (jobs,
stages, SQL executions) for the job group the benchmark sets around each
query call. The stores are read once per pass, after it, as JSON
snapshots (Spark's REST-API classes through its bundled Jackson), so
reading costs a few Py4J calls instead of several per stage.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from perfbench.stats import gap_s

MB = 1024 * 1024
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TIME_RE = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
# SQL metric names of Spark's Python evaluation nodes -> our metric names.
PYTHON_METRICS = {
    "data sent to Python workers": "python.data_sent_mb",
    "data returned from Python workers": "python.data_received_mb",
    "time to run Python workers": "python.run_s",
}


def parse_sql_metric(text: str | None) -> float:
    """First size (bytes) or duration (seconds) in a formatted SQL metric
    value: a single task prints ``'139.4 KiB'``, several print
    ``'total (min, med, max ...)\\n1.2 MiB (...)'``; the total comes first."""
    if not text:
        return 0.0
    m = _SIZE_RE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = _TIME_RE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)]
    return 0.0


@dataclass
class KeyCall:
    """One query call inside a pass: the spans the benchmark times."""

    pass_no: int
    key: str
    group: str
    start: float  # wall clock (time.time), comparable with Spark job times
    built: float
    end: float
    rows: int = 0
    error: str | None = None
    layers: Counter = field(default_factory=Counter)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def counting_load(tables, owner):
    """``tables.load`` wrapped to count calls, time, and cache misses into
    ``owner.counts``. A miss is a call that added an entry to the
    session table cache (``tables._CACHE``), i.e. read and cached a table."""
    load = tables.load

    def traced_load(spark, sf_dir, name):
        before = len(tables._CACHE)
        t0 = time.perf_counter()
        try:
            return load(spark, sf_dir, name)
        finally:
            owner.counts["tables.load_s"] += time.perf_counter() - t0
            owner.counts["tables.load_calls"] += 1
            owner.counts["tables.cache_misses"] += len(tables._CACHE) > before

    return traced_load


def call_layers(call: KeyCall, jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Scheduler and executor counters of one key call from its jobs'
    status-store records (``JobData`` / ``StageData`` as JSON)."""
    out: Counter = Counter()
    intervals, stage_ids = [], set()
    for job in jobs:
        if job.get("submissionTime") is not None:
            end = job.get("completionTime")
            intervals.append(
                (job["submissionTime"] / 1e3, end / 1e3 if end is not None else call.end)
            )
        stage_ids.update(job["stageIds"])
    for sid in stage_ids:
        sd = stages.get(sid)
        if sd is None or sd["numCompleteTasks"] + sd["numFailedTasks"] == 0:
            continue  # skipped: its shuffle output was reused
        out["spark.stages"] += 1
        out["spark.tasks"] += sd["numCompleteTasks"] + sd["numFailedTasks"]
        out["spark.tasks_failed"] += sd["numFailedTasks"]
        out["exec.run_s"] += sd["executorRunTime"] / 1e3
        out["exec.cpu_s"] += sd["executorCpuTime"] / 1e9
        out["exec.gc_s"] += sd["jvmGcTime"] / 1e3
        out["exec.input_mb"] += sd["inputBytes"] / MB
        out["shuffle.write_mb"] += sd["shuffleWriteBytes"] / MB
        out["shuffle.read_mb"] += sd["shuffleReadBytes"] / MB
        out["shuffle.fetch_wait_s"] += sd["shuffleFetchWaitTime"] / 1e3
        out["spill.disk_mb"] += sd["diskBytesSpilled"] / MB
    out["exec.offcpu_s"] = out["exec.run_s"] - out["exec.cpu_s"]
    out["spark.jobs"] = len(jobs)
    out["driver.gap_s"] = gap_s(call.start, call.end, intervals)
    return dict(out)


def python_layers(executions: list[dict]) -> dict[int, Counter]:
    """Python-worker bytes and time per job: the SQL metrics of Python
    evaluation nodes, charged to the first job of their execution."""
    by_job: dict[int, Counter] = {}
    for ex in executions:
        jobs = sorted(int(j) for j in ex["jobs"])
        wanted = {
            str(m["accumulatorId"]): PYTHON_METRICS[m["name"]]
            for m in ex["metrics"]
            if m["name"] in PYTHON_METRICS
        }
        if not jobs or not wanted:
            continue
        out = by_job.setdefault(jobs[0], Counter())
        for acc, name in wanted.items():
            v = parse_sql_metric((ex.get("metricValues") or {}).get(acc))
            out[name] += v / MB if name.endswith("_mb") else v
    return by_job


class Tracer:
    """Wraps the engine seams while installed and turns a finished pass's
    job groups into per-layer counters."""

    def __init__(self, spark):
        from ezbake_graph_spark import tables

        self.spark = spark
        self.sc = spark.sparkContext
        self.tables = tables
        self.counts: Counter = Counter()
        self._saved: list[tuple[object, str, object]] = []
        self._sql_seen = 0
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    # -- engine seams --------------------------------------------------
    def install(self) -> None:
        """Wrap the seams; does nothing while they are already wrapped, so
        consecutive traced passes count every call once."""
        if self._saved:
            return
        df_cls = type(self.spark.range(0))
        self._patch(self.tables, "load", counting_load(self.tables, self))
        for name in ("localCheckpoint", "checkpoint"):
            self._patch(df_cls, name, self._timed_checkpoint(getattr(df_cls, name)))

    def _timed_checkpoint(self, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counts["checkpoint.s"] += time.perf_counter() - t0
                self.counts["checkpoint.calls"] += 1

        return wrapper

    def _patch(self, owner, name, fn) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, fn)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, fn = self._saved.pop()
            setattr(owner, name, fn)

    def take_counts(self) -> Counter:
        """Seam counters since the last call (one key call)."""
        out, self.counts = self.counts, Counter()
        return out

    # -- status stores -------------------------------------------------
    def _dump(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def cached_mb(self) -> float:
        """Memory held by persisted RDDs (the tables cache plus any
        checkpoint blocks not yet released)."""
        return sum(r.memSize() for r in self.sc._jsc.sc().getRDDStorageInfo()) / MB

    def read_pass(self, calls: list[KeyCall]) -> None:
        """Add status-store counters to each finished call's ``layers``."""
        store = self.sc._jsc.sc().statusStore()
        jobs = defaultdict(list)
        for job in self._dump(store.jobsList(None)):
            jobs[job.get("jobGroup")].append(job)
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages: dict[int, dict] = {}
        for sd in self._dump(store.stageList(None, False, False, no_quantiles, None)):
            last = stages.get(sd["stageId"])
            if last is None or sd["attemptId"] > last["attemptId"]:
                stages[sd["stageId"]] = sd
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = self._dump(sql.executionsList(self._sql_seen, 1 << 30))
        self._sql_seen += len(executions)
        by_job = python_layers(executions)
        for call in calls:
            mine = jobs.get(call.group, [])
            call.layers.update(call_layers(call, mine, stages))
            for job in mine:
                call.layers.update(by_job.get(job["jobId"], {}))
