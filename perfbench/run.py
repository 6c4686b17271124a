"""spark-graft benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (perfbench/datagen.py), pins the machine (``local[nproc]``, a
driver heap below physical RAM, every scratch file under
``.perfbench-work/``), starts one session, runs a cold pass and then warm
passes of the workload's registry keys until ``--seconds`` have passed,
checks every result against its DuckDB oracle or an untimed reference
execution, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OLAP_KEYS = (
    "agg_count_distinct", "agg_pricing_q1", "agg_rollup", "graph_degree",
    "join_star_q5", "scalar_json", "sim_cosine_topk", "stream_session",
    "stream_tumbling", "text_term_counts", "topk_revenue_q3", "win_rank_topn",
    "win_running_sum",
)  # fmt: skip
GRAPH_KEYS = ("graph_pagerank_exact", "graph_hits", "graph_louvain", "graph_ktruss")
LLM_KEYS = (
    "dedup_minhash", "dedup_resolve_entities", "curate_corpus", "curate_images",
    "sim_ivf", "text_tfidf",
)  # fmt: skip
ALL_KEYS = OLAP_KEYS + GRAPH_KEYS + LLM_KEYS


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    sf: float  # scale factor of the generated tables (FIXTURES.md row counts)
    shuffle_each_pass: bool = False  # else the seed fixes one order per run
    sink_keys: tuple[str, ...] = ()  # written to parquet instead of toPandas
    fresh_corpus: bool = False  # each pass reads a newly perturbed corpus


WORKLOADS = {
    # Each workload's scale is the largest at which a full measurement of
    # the benchmark fits its time limit; perfbench/README.md ("Scale") has
    # the measured run lengths.
    "olap_mix": Workload(OLAP_KEYS, 0.01, shuffle_each_pass=True),
    # One key's result goes to a parquet sink, so the write path is measured
    # on a listed workload too (see perfbench/README.md).
    "graph_iterative": Workload(GRAPH_KEYS, 0.001, sink_keys=("graph_louvain",)),
    "llm_pipeline": Workload(LLM_KEYS, 0.001, sink_keys=LLM_KEYS, fresh_corpus=True),
}

# No warm pass starts later than this after the run starts, so that it
# (references, shutdown) ends well inside its 180 s limit.
LAST_PASS_START_S = 130

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "query_p50_s": "s"}
# Per-layer metrics of one warm pass (medians over traced warm passes).
PASS_LAYERS = {
    "tables.load_calls": "count",
    "tables.cache_misses": "count",
    "tables.cache_hit_ratio": "ratio",
    "tables.load_s": "s",
    "tables.cached_mb": "MB",
    "query.build_s": "s",
    "query.fetch_s": "s",
    "query.sink_s": "s",
    "query.result_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "driver.gap_s": "s",
    "checkpoint.calls": "count",
    "checkpoint.s": "s",
    "jobs_per_checkpoint": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.offcpu_s": "s",
    "exec.input_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "spill.disk_mb": "MB",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "python.run_s": "s",
    "trace.unaccounted_s": "s",
}
# The same counters for the cold pass, where the table cache fills.
COLD_LAYERS = ("tables.load_calls", "tables.cache_misses", "spark.jobs", "exec.run_s")
RUN_LAYERS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_pct": "pct",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    out = {**RUN_LAYERS, **PASS_LAYERS}
    out.update({f"cold.{m}": PASS_LAYERS[m] for m in COLD_LAYERS})
    out.update({f"jobs.{k}": "count" for k in ALL_KEYS})
    out.update({f"wall_s.{k}": "s" for k in ALL_KEYS})
    return out


def key_orders(workload: Workload, seed: int, passes: int) -> list[list[str]]:
    """Key order of each pass: reshuffled every pass, or one seeded order."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        if workload.shuffle_each_pass or not orders:
            order = list(workload.keys)
            rng.shuffle(order)
        orders.append(order)
    return orders


# -- machine pinning ---------------------------------------------------------


def pin_machine(work: str) -> dict:
    """Pin the engine to the host through its environment knobs before it
    is imported: ``local[nproc]``, a driver heap below physical RAM, and
    Spark/Python/JVM scratch space inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap_mb = min(2048, phys_mb // 4)
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "checkpoints", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every job/stage/execution of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ.update(
        # every JVM of the run (the launcher too): temp files in ``work``,
        # no hsperfdata file under the system temp directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_GRAFT_EXTRA_CONF=";".join(f"{k}={v}" for k, v in conf.items()),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    return {"nproc": nproc, "phys_mb": phys_mb, "driver_heap_mb": heap_mb}


def redirect_checkpoint_dir(path: str) -> None:
    """``session.get_session`` sets a fixed checkpoint directory outside
    the checkout; send it to ``path`` so the run writes only inside it."""
    from pyspark import SparkContext

    set_dir = SparkContext.setCheckpointDir
    SparkContext.setCheckpointDir = lambda self, _dir: set_dir(self, path)


def git_head() -> str:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(sum(delta), 1)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -- the run -----------------------------------------------------------------


class Run:
    def __init__(self, args, workload: Workload, work: str):
        self.t_start = time.perf_counter()
        self.args = args
        self.wl = workload
        self.work = work
        self.attempted = 0
        self.failed: set[tuple[int, str]] = set()  # (pass, key) calls
        self.problems: list[str] = []  # every failed check, for the log
        self.pending_refs: dict[tuple[str, str], list[tuple[int, tuple]]] = {}
        self.oracle_rows: dict[str, set[int]] = {}
        self.passes: list[dict] = []

    def fail(self, what: str, pass_no: int | None = None, key: str | None = None) -> None:
        if key is not None:
            self.failed.add((pass_no, key))
        self.problems.append(what)
        print(f"# FAIL {what}", file=sys.stderr)

    # setup ------------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        from ezbake_graph_spark import registry, session

        redirect_checkpoint_dir(os.path.join(self.work, "checkpoints"))
        t1 = time.perf_counter()
        self.spark = session.get_session("perfbench")
        self.session_start_s = time.perf_counter() - t1
        self.qs = registry.queries()
        oracles = registry.oracle_sql()
        self.setup_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        from perfbench.check import Checker

        self.checker = Checker(oracles)

    # one pass ---------------------------------------------------------------
    def data_dir(self, pass_no: int) -> str:
        if not self.wl.fresh_corpus:
            return self.base_dir
        from perfbench import datagen

        out = os.path.join(self.work, f"corpus-{pass_no}")
        idx = datagen.perturb_index(self.args.seed, pass_no)
        return datagen.perturbed_corpus(self.duck, self.base_dir, out, idx)

    def run_pass(self, pass_no: int, order: list[str], tracer) -> dict:
        from perfbench.trace import KeyCall

        data_dir = self.data_dir(pass_no)
        calls, results = [], {}
        t0 = time.perf_counter()
        for key in order:
            group = f"perfbench-{pass_no}-{key}"
            self.sc.setJobGroup(group, key)
            call = KeyCall(pass_no, key, group, time.time(), 0.0, 0.0)
            try:
                df = self.qs[key](self.spark, data_dir)
                call.built = time.time()
                if key in self.wl.sink_keys:
                    path = os.path.join(self.work, "sink", key)
                    df.write.mode("overwrite").parquet(path)
                    result = path
                else:
                    result = df.toPandas()
                call.end = time.time()
                results[key] = (df, result)
            except Exception:  # a failed query is counted, the run goes on
                call.end = time.time()
                call.built = call.built or call.end
                call.error = traceback.format_exc()
            if tracer is not None:
                call.layers.update(tracer.take_counts())
            calls.append(call)
        wall = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        record = {"no": pass_no, "wall_s": wall, "calls": calls, "traced": tracer is not None}
        if tracer is not None:
            tracer.read_pass(calls)
            record["cached_mb"] = tracer.cached_mb()
        self.check_pass(data_dir, calls, results)
        spans = " ".join(f"{c.key}={c.wall_s:.2f}" for c in calls)
        print(f"# pass {pass_no} {wall:.2f}s: {spans}", file=sys.stderr)
        return record

    # checks (untimed) --------------------------------------------------------
    def check_pass(self, data_dir: str, calls, results) -> None:
        from perfbench.check import REFERENCES, float_columns, pandas_rows, sink_rows, summarize

        for call in calls:
            self.attempted += 1
            if call.error:
                self.fail(f"pass {call.pass_no} {call.key} raised:\n{call.error}",
                          call.pass_no, call.key)
                continue
            df, result = results[call.key]
            try:
                if call.key in self.wl.sink_keys:
                    cols, rows = sink_rows(result)
                else:
                    cols, rows = list(result.columns), pandas_rows(result, df.schema)
                call.rows = len(rows)
                if call.key in self.checker.oracles:
                    got = summarize(cols, rows)
                    want = self.checker.oracle(data_dir, call.key)
                    self.oracle_rows.setdefault(call.key, set()).add(want[1])
                    if got != want:
                        self.fail(f"pass {call.pass_no} {call.key}: {got} != oracle {want}",
                                  call.pass_no, call.key)
                elif call.key in REFERENCES:
                    bad = REFERENCES[call.key](self.checker, data_dir, cols, rows)
                    if bad:
                        self.fail(f"pass {call.pass_no} {call.key}: {bad}", call.pass_no, call.key)
                else:
                    got = summarize(cols, rows, float_columns(df.schema))
                    self.pending_refs.setdefault((data_dir, call.key), []).append(
                        (call.pass_no, got)
                    )
            except Exception:
                self.fail(f"pass {call.pass_no} {call.key} check raised:\n"
                          + traceback.format_exc(), call.pass_no, call.key)

    def check_references(self) -> None:
        """Rows-only keys: one untimed reference execution per input
        directory, compared on row count, columns and non-float values."""
        from perfbench.check import float_columns, summarize

        for (data_dir, key), seen in sorted(self.pending_refs.items()):
            try:
                self.sc.setJobGroup("perfbench-reference", key)
                df = self.qs[key](self.spark, data_dir)
                rows = [tuple(r) for r in df.collect()]
                want = summarize(list(df.columns), rows, float_columns(df.schema))
            except Exception:
                for pass_no, _ in seen:
                    self.fail(f"reference {key} raised:\n" + traceback.format_exc(),
                              pass_no, key)
                continue
            for pass_no, got in seen:
                if got != want:
                    self.fail(f"pass {pass_no} {key}: {got} != reference {want}", pass_no, key)
        # A perturbed corpus keeps the similarity structure exactly, so an
        # exactly-oracled key returns the same row count on every corpus as
        # on the unperturbed base.
        if self.wl.fresh_corpus:
            for key, counts in sorted(self.oracle_rows.items()):
                base = self.checker.oracle(self.base_dir, key)[1]
                if counts != {base}:
                    self.fail(f"{key}: oracle row counts {counts} on the corpora, {base} on the base")

    # the loop -----------------------------------------------------------------
    def execute(self) -> None:
        from perfbench import datagen
        import duckdb

        self.base_dir = datagen.write_tables(
            os.path.join(self.work, "input"), self.args.seed, self.wl.sf
        )
        self.duck = duckdb.connect()
        self.setup()
        tracer = None
        if self.args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(self.spark)
            tracer.install()
        orders = key_orders(self.wl, self.args.seed, 100)
        self.passes.append(self.run_pass(0, orders[0], tracer))
        # The first warm pass still pays for JIT, so no metric uses it. After
        # it, warm passes until --seconds have passed, at least one. A traced
        # run traces them in the order traced-untraced-untraced-traced-...,
        # at least one of each, so that both sides see earlier and later
        # passes alike.
        if tracer is not None:
            tracer.uninstall()
        self.passes.append(self.run_pass(1, orders[1], None))
        t_warm = time.perf_counter()
        n = 2
        while True:
            traced = self.args.trace and (n - 2) % 4 in (0, 3)
            if tracer is not None:
                tracer.install() if traced else tracer.uninstall()
            self.passes.append(self.run_pass(n, orders[n], tracer if traced else None))
            n += 1
            done = time.perf_counter() - t_warm >= self.args.seconds
            late = time.perf_counter() - self.t_start > LAST_PASS_START_S
            if (done or late) and (not self.args.trace or n >= 4):  # both kinds
                break
        if tracer is not None:
            tracer.uninstall()
        self.check_references()
        from pyspark import SparkContext

        self.peak_rss_mb = jvm_peak_rss_mb(SparkContext._gateway.proc.pid)

    def shutdown(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        self.checker.close()
        self.duck.close()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()

    # metrics ------------------------------------------------------------------
    def measured(self) -> list[dict]:
        """Warm passes after the first (JIT) one."""
        return self.passes[2:]

    def end_to_end(self) -> dict[str, float]:
        warm = self.measured()
        samples = [c.wall_s for p in warm for c in p["calls"]]
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": self.passes[0]["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in warm),
            "query_p50_s": statistics.median(samples),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [p for p in self.measured() if p["traced"]]
        plain = [p for p in self.measured() if not p["traced"]]
        per_pass = [pass_layers(p, self.wl.sink_keys) for p in traced]
        out = {
            "session.start_s": self.session_start_s,
            "jvm.peak_rss_mb": self.peak_rss_mb,
            "trace.overhead_pct": 100.0
            * (statistics.median(p["wall_s"] for p in traced)
               / statistics.median(p["wall_s"] for p in plain) - 1.0),
        }
        for name in PASS_LAYERS:
            out[name] = statistics.median(pp[name] for pp in per_pass)
        cold = pass_layers(self.passes[0], self.wl.sink_keys)
        out.update({f"cold.{m}": cold[m] for m in COLD_LAYERS})
        for key in ALL_KEYS:
            calls = [c for p in traced for c in p["calls"] if c.key == key]
            out[f"jobs.{key}"] = statistics.median(c.layers.get("spark.jobs", 0) for c in calls) if calls else 0
            out[f"wall_s.{key}"] = statistics.median(c.wall_s for c in calls) if calls else 0.0
        return out


def pass_layers(p: dict, sink_keys: tuple[str, ...]) -> dict[str, float]:
    """Per-layer counters of one traced pass: sums over its key calls."""
    tot: Counter = Counter()
    for c in p["calls"]:
        tot.update(c.layers)
        tot["query.build_s"] += c.built - c.start
        tot["query.sink_s" if c.key in sink_keys else "query.fetch_s"] += c.end - c.built
        tot["query.result_rows"] += c.rows
    calls = tot["tables.load_calls"]
    tot["tables.cache_hit_ratio"] = 1.0 - tot["tables.cache_misses"] / calls if calls else 0.0
    ck = tot["checkpoint.calls"]
    tot["jobs_per_checkpoint"] = tot["spark.jobs"] / ck if ck else 0.0
    tot["tables.cached_mb"] = p.get("cached_mb", 0.0)
    tot["trace.unaccounted_s"] = p["wall_s"] - sum(c.wall_s for c in p["calls"])
    return {m: float(tot[m]) for m in PASS_LAYERS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for module in ("ezbake_graph_spark", "tools.verify_local", "tools.scale_curve"):
        try:
            found = importlib.util.find_spec(module) is not None
        except ModuleNotFoundError:
            found = False
        if not found:
            print(f"perfbench: {module} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    machine = pin_machine(work)
    cpu_before = cpu_times()
    machine.update(
        loadavg_before=os.getloadavg(),
        seed=args.seed,
        git_head=git_head(),
        python=platform.python_version(),
    )
    run = Run(args, WORKLOADS[args.workload], work)
    try:
        run.execute()
        import pyspark

        machine.update(
            spark=pyspark.__version__,
            java=run.sc._jvm.System.getProperty("java.version"),
            master=run.sc.master,
        )
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        if hasattr(run, "spark"):
            run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    machine["loadavg_after"] = os.getloadavg()
    machine["steal_pct"] = steal_pct(cpu_before, cpu_times())
    units = per_layer_units() if args.trace else END_TO_END
    walls = [round(p["wall_s"], 3) for p in run.passes]
    print(f"# machine {json.dumps(machine)}")
    from perfbench.stats import tail_percentile

    error_rate = len(run.failed) / max(run.attempted, 1)
    samples = [c.wall_s for p in run.measured() for c in p["calls"]]
    p90 = tail_percentile(samples, 0.9)
    print(
        f"# passes {walls} attempted {run.attempted} error_rate {error_rate:.4f} "
        f"query_p90_s {'n/a' if p90 is None else f'{p90:.4f}'} ({len(samples)} samples)"
    )
    print(
        json.dumps(
            {
                "correct": not run.problems,
                "attempted": run.attempted,
                "failed": len(run.failed),
                "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
