"""The benchmark's own arithmetic and determinism (no Spark session).

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import types
from collections import Counter

import duckdb
import pytest

from perfbench import datagen, run, stats
from perfbench.check import pandas_rows
from perfbench.trace import KeyCall, Tracer, call_layers, counting_load, parse_sql_metric, python_layers

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule -----------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(list(range(99)), 0.9) is None
    xs = list(range(100, 0, -1))  # 100 samples, unsorted
    assert stats.tail_percentile(xs, 0.9) == 90
    assert stats.tail_percentile(xs, 0.99) is None


def test_tail_percentile_edges():
    assert stats.tail_percentile([], 0.5) is None
    assert stats.tail_percentile(list(range(20)), 0.5) == 9
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0], 1.0)


def test_quartile_spread():
    # quartiles of 1..9 (exclusive method) are 2.5, 5, 7.5
    assert stats.quartile_spread([float(x) for x in range(1, 10)]) == pytest.approx(1.0)


# -- driver gap ----------------------------------------------------------------


def test_gap_counts_overlapping_jobs_once():
    # jobs 0-2 and 1-3 overlap: busy 0-3, then 5-6 -> busy 4 of 10
    assert stats.gap_s(0.0, 10.0, [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 6.0


def test_gap_clips_jobs_to_the_call():
    jobs = [(-5.0, 1.0), (9.0, 20.0), (30.0, 40.0), (2.0, 2.0)]
    assert stats.union_length(jobs, 0.0, 10.0) == 2.0
    assert stats.gap_s(0.0, 10.0, jobs) == 8.0


def test_gap_nested_and_unsorted_jobs():
    jobs = [(4.0, 5.0), (1.0, 8.0), (2.0, 3.0)]
    assert stats.gap_s(0.0, 10.0, jobs) == 3.0
    assert stats.gap_s(0.0, 10.0, []) == 10.0


def _stage(sid, tasks, run_ms=0, failed=0):
    return {
        "stageId": sid, "attemptId": 0, "numCompleteTasks": tasks, "numFailedTasks": failed,
        "executorRunTime": run_ms, "executorCpuTime": run_ms * 500_000, "jvmGcTime": 0,
        "inputBytes": 0, "shuffleWriteBytes": 1 << 20, "shuffleReadBytes": 0,
        "shuffleFetchWaitTime": 0, "diskBytesSpilled": 0,
    }  # fmt: skip


def test_call_layers_from_status_store_records():
    call = KeyCall(0, "k", "g", start=100.0, built=104.0, end=110.0)
    jobs = [  # overlapping jobs 101-103 and 102-105, then 106-107 (ms timestamps)
        {"jobId": 1, "submissionTime": 101_000, "completionTime": 103_000, "stageIds": [1, 2]},
        {"jobId": 2, "submissionTime": 102_000, "completionTime": 105_000, "stageIds": [2, 3]},
        {"jobId": 3, "submissionTime": 106_000, "completionTime": 107_000, "stageIds": [4]},
    ]
    stages = {1: _stage(1, 0), 2: _stage(2, 4, 2000), 3: _stage(3, 2, 1000, failed=1), 4: _stage(4, 1, 500)}
    out = call_layers(call, jobs, stages)
    assert out["spark.jobs"] == 3
    assert out["spark.stages"] == 3  # stage 1 was skipped; stage 2 counts once
    assert out["spark.tasks"] == 8 and out["spark.tasks_failed"] == 1
    assert out["exec.run_s"] == pytest.approx(3.5)
    assert out["exec.offcpu_s"] == pytest.approx(3.5 / 2)
    assert out["shuffle.write_mb"] == pytest.approx(3.0)
    assert out["driver.gap_s"] == pytest.approx(10.0 - 4.0 - 1.0)


def test_python_layers_charge_the_first_job_of_an_execution():
    ex = {
        "jobs": {"7": "SUCCEEDED", "5": "SUCCEEDED"},
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 11},
            {"name": "time to run Python workers", "accumulatorId": 12},
            {"name": "number of output rows", "accumulatorId": 13},
        ],
        "metricValues": {"11": "2.0 MiB", "12": "1.5 s", "13": "9"},
    }
    by_job = python_layers([ex, {"jobs": {}, "metrics": [], "metricValues": None}])
    assert set(by_job) == {5}
    assert by_job[5]["python.data_sent_mb"] == pytest.approx(2.0)
    assert by_job[5]["python.run_s"] == pytest.approx(1.5)


def test_pass_layers_split_fetch_and_sink_by_key():
    fetched = KeyCall(2, "graph_hits", "g1", start=0.0, built=1.0, end=1.5, rows=10)
    sunk = KeyCall(2, "graph_louvain", "g2", start=1.5, built=3.0, end=3.25, rows=5)
    out = run.pass_layers({"wall_s": 3.5, "calls": [fetched, sunk]}, ("graph_louvain",))
    assert out["query.build_s"] == pytest.approx(2.5)
    assert out["query.fetch_s"] == pytest.approx(0.5)
    assert out["query.sink_s"] == pytest.approx(0.25)
    assert out["query.result_rows"] == 15
    assert out["trace.unaccounted_s"] == pytest.approx(0.25)


# -- cache-miss counting ---------------------------------------------------------


def test_cache_misses_count_calls_that_fill_the_cache():
    cache: dict = {}

    def load(spark, sf_dir, name):
        return cache.setdefault((sf_dir, name), object())

    tables = types.SimpleNamespace(_CACHE=cache, load=load)
    owner = types.SimpleNamespace(counts=Counter())
    traced = counting_load(tables, owner)
    for name in ("lineitem", "orders", "lineitem", "lineitem"):
        traced(None, "/d", name)
    traced(None, "/other", "lineitem")
    assert owner.counts["tables.load_calls"] == 5
    assert owner.counts["tables.cache_misses"] == 3


def test_take_counts_resets():
    tracer = Tracer.__new__(Tracer)
    tracer.counts = Counter({"checkpoint.calls": 2})
    assert tracer.take_counts() == {"checkpoint.calls": 2}
    assert tracer.take_counts() == {}


def test_install_twice_wraps_once():
    class Frame:
        def localCheckpoint(self, eager=True):
            return self

        def checkpoint(self, eager=True):
            return self

    cache: dict = {}

    def load(spark, sf_dir, name):
        return cache.setdefault((sf_dir, name), object())

    tracer = Tracer.__new__(Tracer)
    tracer.spark = types.SimpleNamespace(range=lambda n: Frame())
    tracer.tables = types.SimpleNamespace(_CACHE=cache, load=load)
    tracer.counts, tracer._saved = Counter(), []
    tracer.install()
    tracer.install()  # consecutive traced passes
    tracer.tables.load(None, "/d", "lineitem")
    Frame().localCheckpoint()
    Frame().checkpoint()
    counts = tracer.take_counts()
    assert counts["tables.load_calls"] == 1 and counts["tables.cache_misses"] == 1
    assert counts["checkpoint.calls"] == 2
    tracer.uninstall()
    assert tracer.tables.load is load
    assert Frame.localCheckpoint.__name__ == "localCheckpoint"
    assert Frame.checkpoint.__name__ == "checkpoint"


def test_parse_sql_metric():
    assert parse_sql_metric("139.4 KiB") == pytest.approx(139.4 * 1024)
    many = "total (min, med, max (stageId: taskId))\n1.5 MiB (10.0 B, 20.0 B, 1.0 MiB (stage 3.0: task 7))"
    assert parse_sql_metric(many) == pytest.approx(1.5 * 1024 * 1024)
    assert parse_sql_metric("913 ms") == pytest.approx(0.913)
    assert parse_sql_metric("2.3 s") == pytest.approx(2.3)
    assert parse_sql_metric(None) == 0.0


# -- seeds -------------------------------------------------------------------------


def test_same_seed_same_key_order():
    olap = run.WORKLOADS["olap_mix"]
    a, b = run.key_orders(olap, 7, 5), run.key_orders(olap, 7, 5)
    assert a == b
    assert all(sorted(o) == sorted(olap.keys) for o in a)
    assert len({tuple(o) for o in a}) > 1  # reshuffled each pass
    assert run.key_orders(olap, 8, 5) != a
    graph = run.WORKLOADS["graph_iterative"]
    orders = run.key_orders(graph, 7, 3)
    assert orders[0] == orders[1] == orders[2]  # one seeded order per run


def test_same_seed_same_tables():
    a, b = datagen.tables_for(3, 0.001), datagen.tables_for(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    c = datagen.tables_for(4, 0.001)
    assert not c["lineitem"].equals(a["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def test_same_seed_same_corpus(tmp_path):
    base = datagen.write_tables(str(tmp_path / "base"), 5, 0.001)
    con = duckdb.connect()
    idx = datagen.perturb_index(5, 1)
    assert idx == datagen.perturb_index(5, 1) and 1 <= idx <= 25
    outs = [
        datagen.perturbed_corpus(con, base, str(tmp_path / f"c{i}"), idx) for i in range(2)
    ]
    texts = [
        con.sql(f"SELECT text FROM '{d}/documents.parquet' ORDER BY doc_id").fetchall()
        for d in [base, *outs]
    ]
    assert texts[1] == texts[2] != texts[0]
    other = datagen.perturbed_corpus(con, base, str(tmp_path / "o"), idx % 25 + 1)
    assert con.sql(f"SELECT text FROM '{other}/documents.parquet' ORDER BY doc_id").fetchall() != texts[1]
    with pytest.raises(ValueError):
        datagen.perturbed_corpus(con, base, str(tmp_path / "x"), 0)


# -- result conversion -------------------------------------------------------------


def test_pandas_rows_restores_collect_values():
    pd = pytest.importorskip("pandas")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField("t", T.TimestampType()),
        ]
    )
    pdf = pd.DataFrame(
        {
            "k": [1.0, math.nan],
            "x": [0.5, math.nan],
            "s": ["a", None],
            "a": [[1, 2], None],
            "t": [pd.Timestamp("2024-01-01 00:00:01"), pd.NaT],
        }
    )
    rows = pandas_rows(pdf, schema)
    assert rows[0][:4] == (1, 0.5, "a", [1, 2])
    assert rows[1][0] is None and math.isnan(rows[1][1]) and rows[1][2] is None
    assert rows[1][4] is None and rows[0][4].second == 1
    assert type(rows[0][0]) is int


# -- BENCHMARK.json --------------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
