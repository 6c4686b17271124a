"""The superstep runtime (ezbake_graph_spark/graph/loop.py): loop
hygiene for every loop entry point, the checkpoint's statistics reset,
long-diameter convergence, the single writer of the loop conf, the
co-partitioned edge-layout join, and one Spark job per superstep."""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ezbake_graph_spark.graph import pregel
from ezbake_graph_spark.graph.loop import (
    AQE,
    SHUFFLE_PARTITIONS,
    checkpoint,
    observed_checkpoint,
    scoped_conf,
    superstep_loop,
)
from ezbake_graph_spark.operators.graph import louvain_local_moves, louvain_two_level

PKG = Path(__file__).resolve().parent.parent / "ezbake_graph_spark"

# Session values the loop overrides: AQE on, and a partition count below
# the loop's floor of 4, so a leaked pin always shows.
SESSION_CONF = {AQE: "true", SHUFFLE_PARTITIONS: "3"}


ENTRY_POINTS = {
    "connected_components": lambda v, e: pregel.connected_components(v, e, max_iter=3),
    "bfs": lambda v, e: pregel.bfs(v, e, [0], max_depth=2),
    "pagerank": lambda v, e: pregel.pagerank(v, e, iterations=2),
    "core_number": lambda v, e: pregel.core_number(e, max_iter=2),
    "label_propagation": lambda v, e: pregel.label_propagation(v, e, iterations=2),
    "personalized_pagerank": lambda v, e: pregel.personalized_pagerank(
        v, e, [0], iterations=2
    ),
    "shortest_paths_weighted": lambda v, e: pregel.shortest_paths_weighted(
        v, e.withColumn("w", F.lit(1).cast("long")), [0], max_iter=3
    ),
    "temporal_earliest_arrival": lambda v, e: pregel.temporal_earliest_arrival(
        v, e.withColumn("t", F.col("src") + 1), [0], n_rounds=2
    ),
    "pregel_run": lambda v, e: pregel.pregel_run(
        v.withColumn("c", F.col("id")),
        e,
        message=F.col("c"),
        merge=F.min,
        update={"c": F.least(F.col("c"), F.coalesce(F.col("msg"), F.col("c")))},
        max_iter=2,
        check_cols=["c"],
    ),
    "betweenness_sampled": lambda v, e: pregel.betweenness_sampled(
        v, e, [0], max_depth=2
    ),
    "hits": lambda v, e: pregel.hits(e, iterations=1),
    "louvain_local_moves": lambda v, e: louvain_local_moves(e, rounds=1),
    "louvain_two_level": lambda v, e: louvain_two_level(e, rounds1=1, rounds2=1),
}


def _loop_state(spark):
    cache = spark._jsparkSession.sharedState().cacheManager()
    return (
        spark.conf.get(AQE),
        spark.conf.get(SHUFFLE_PARTITIONS),
        cache.numCachedEntries(),
    )


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_loop_restores_conf_and_drops_caches(spark, monkeypatch, name):
    """After a normal return, after an exception raised inside the loop,
    and on an empty edge frame, every loop entry point leaves the
    session's AQE and shuffle-partition settings as they were and no
    new CacheManager entry behind."""
    run = ENTRY_POINTS[name]
    verts = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)], "src long, dst long"
    )
    empty = spark.createDataFrame([], "src long, dst long")
    with scoped_conf(spark, SESSION_CONF):
        before = _loop_state(spark)
        assert before[:2] == (SESSION_CONF[AQE], SESSION_CONF[SHUFFLE_PARTITIONS])

        run(verts, edges).collect()
        assert _loop_state(spark) == before

        run(verts, empty).collect()
        assert _loop_state(spark) == before

        # Fail the loop's second localCheckpoint: the first is the keyed
        # edge layout, so the edge cache exists when the loop raises.
        df_cls = type(spark.range(0))
        real = df_cls.localCheckpoint
        calls = []

        def failing(self, *args, **kwargs):
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("superstep failed")
            return real(self, *args, **kwargs)

        monkeypatch.setattr(df_cls, "localCheckpoint", failing)
        with pytest.raises(RuntimeError, match="superstep failed"):
            run(verts, edges).collect()
        monkeypatch.undo()
        assert _loop_state(spark) == before


def test_checkpoint_resets_inherited_statistics(spark):
    """A plain localCheckpoint inherits its parent's size estimate (the
    seed of the SCALE.md §21 blow-up); the runtime's checkpoint reports
    the session's defaultSizeInBytes instead, over the same rows."""
    a = spark.range(50)
    b = spark.range(50).withColumnRenamed("id", "k")
    df = a.join(b, a.id == b.k)

    def size(frame):
        stats = frame._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes())

    default = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert size(df.localCheckpoint()) != default
    ck = checkpoint(df)
    assert size(ck) == default
    assert sorted(tuple(r) for r in ck.collect()) == [(i, i) for i in range(50)]


def test_long_path_wcc_and_sssp_converge_exactly(spark):
    """A 70-hop path graph with the minimum id at one end: WCC needs a
    superstep per hop, SSSP from that end one per hop. Both must reach
    the exact fixpoint when ``max_iter`` exceeds the diameter — the
    long-diameter regression test for the per-superstep statistics
    reset."""
    hops = 70
    verts = spark.range(hops + 1)
    path = verts.select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst")).filter(
        F.col("dst") <= hops
    )
    wcc = pregel.connected_components(verts, path, max_iter=hops + 5)
    assert sorted(tuple(r) for r in wcc.collect()) == [(i, 0) for i in range(hops + 1)]
    weighted = path.withColumn("w", F.lit(1).cast("long"))
    sssp = pregel.shortest_paths_weighted(verts, weighted, [0], max_iter=hops + 5)
    assert sorted(tuple(r) for r in sssp.collect()) == [(i, i) for i in range(hops + 1)]


def test_input_gates_raise_value_error(spark):
    """Input validation survives ``python -O``: ValueError, not assert."""
    from ezbake_graph_spark.operators.graph import _louvain_hierarchy_sql
    from ezbake_graph_spark.operators.llm_dedup import _deletion_sigs

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="at least one superstep"):
        pregel.hits(edges, iterations=0)
    with pytest.raises(ValueError, match="exactly 3 levels"):
        _louvain_hierarchy_sql(max_levels=2)
    with pytest.raises(ValueError, match="k=2"):
        _deletion_sigs(k=1)


# (file relative to the package, top-level function) allowed to write
# the loop conf keys
_CONF_WRITERS = {("graph/loop.py", "scoped_conf"), ("session.py", "get_session")}


def _conf_writes(tree: ast.Module):
    """Yield (top-level function, line) for every call that writes
    AQE or the shuffle-partition count: ``<...>conf.set(key, ...)`` or a
    builder ``.config(key, ...)`` whose key is one of the two literals or
    not a literal at all (a variable key could be either)."""
    loop_keys = {AQE, SHUFFLE_PARTITIONS}
    tops = [(n.name, n) for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        methods = (m for m in cls.body if isinstance(m, ast.FunctionDef))
        tops += [(f"{cls.name}.{m.name}", m) for m in methods]
    owner = {}
    for name, top in tops:
        for node in ast.walk(top):
            owner[id(node)] = name
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr = node.func.attr
        conf_set = attr == "set" and ast.unparse(node.func.value).endswith("conf")
        if not (conf_set or attr == "config") or not node.args:
            continue
        key = node.args[0]
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        if not literal or key.value in loop_keys:
            yield owner.get(id(node), "<module>"), node.lineno


def test_loop_conf_has_one_writer():
    """Only ``loop.scoped_conf`` (and the session factory) may write AQE
    or the shuffle-partition count, so the loop-settings decision lives
    in one module."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for func, line in _conf_writes(ast.parse(path.read_text())):
            if (rel, func) not in _CONF_WRITERS:
                offenders.append(f"{rel}:{line} in {func}")
    assert not offenders, offenders


def _plan_nodes(plan):
    """Every node of a physical plan tree; the plan a cached frame was
    built with (an InMemoryTableScan's relation) is not a child."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


@pytest.mark.parametrize("via", ["keyed", "layout"])
def test_superstep_join_reuses_layout_partitioning(spark, via):
    """A superstep join against a cached edge layout is planned on the
    layout's resident partitioning: no BroadcastExchange anywhere, no
    Exchange on the edge side, one Exchange on the state side. The
    state is a checkpoint, which reports the default size, and the
    materialized layout is far below the broadcast threshold: unhinted,
    the planner broadcasts the edges in every superstep."""
    edges = spark.createDataFrame(
        [(i, (7 * i + 1) % 40) for i in range(40)], "src long, dst long"
    )
    with superstep_loop(spark) as loop:
        if via == "keyed":
            layout = loop.keyed(edges, "src")
        else:
            layout = loop.layout(edges.repartition(loop.partitions, "src"))
        # materialized, as in every superstep after the first: the
        # cached relation then reports its real (tiny) size
        assert layout.count() == 40
        state = checkpoint(
            edges.select(F.col("src").alias("id"), F.lit(1.0).alias("v")).distinct()
        )
        joined = layout.join(state, layout.src == state.id)
        nodes = list(_plan_nodes(joined._jdf.queryExecution().executedPlan()))
        assert "BroadcastExchange" not in [n.nodeName() for n in nodes]
        join = next(n for n in nodes if n.nodeName().endswith("Join"))
        edge_side, state_side = (
            [n.nodeName() for n in _plan_nodes(join.children().apply(i))]
            for i in (0, 1)
        )
        assert "InMemoryTableScan" in edge_side and "Exchange" not in edge_side
        assert state_side.count("Exchange") == 1
        got = sorted(tuple(r) for r in joined.select("src", "dst").collect())
        assert got == sorted(tuple(r) for r in edges.collect())


def _run_counting_jobs(spark, run):
    """(result of ``run()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_observed_checkpoint_returns_total_in_one_job(spark):
    """The checkpoint and its observed sum are one Spark job; an empty
    frame's total is 0, not None."""
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("x"))
    (ck, total), jobs = _run_counting_jobs(spark, lambda: observed_checkpoint(df, "x"))
    assert (total, jobs) == (90, 1)
    assert sorted(r.x for r in ck.collect()) == [2 * i for i in range(10)]
    assert observed_checkpoint(df.filter("x < 0"), "x")[1] == 0


def _ring(spark, n=12):
    """A directed ring with chords: non-bipartite, every vertex both a
    src and a dst."""
    arcs = [(i, (i + 1) % n) for i in range(n)]
    arcs += [(i, (i + 5) % n) for i in range(0, n, 3)]
    return spark.createDataFrame(arcs, "src long, dst long")


def test_hits_runs_one_job_per_superstep(spark):
    """``hits`` costs exactly one Spark job per superstep on top of a
    constant (edge layouts, vertex set, the last superstep's second
    half-step, the output): job counts at k and k + 3 supersteps
    differ by 3."""
    edges = _ring(spark)
    counts = {
        k: _run_counting_jobs(spark, lambda k=k: pregel.hits(edges, iterations=k))[1]
        for k in (2, 5)
    }
    assert counts[5] - counts[2] == 3, counts


def test_louvain_runs_one_job_per_round(spark):
    """``louvain_local_moves`` costs exactly one Spark job per round on
    top of a constant."""
    sym = pregel.symmetrize(_ring(spark))
    counts = {
        r: _run_counting_jobs(spark, lambda r=r: louvain_local_moves(sym, rounds=r))[1]
        for r in (1, 4)
    }
    assert counts[4] - counts[1] == 3, counts


def test_layout_hint_and_observation_live_in_loop_module():
    """Edge layouts and observed normalizers have one home: the loop
    runtime is the only module that creates an ``Observation``, and the
    only graph module that hints ``shuffle_hash`` (the relational and
    dedup joins keep their own hints)."""
    graph_modules = {"operators/graph.py"} | {
        f"graph/{p.name}" for p in (PKG / "graph").glob("*.py")
    }
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel, text = path.relative_to(PKG).as_posix(), path.read_text()
        if rel == "graph/loop.py":
            continue
        if "Observation(" in text:
            offenders.append(f"{rel}: Observation(")
        if rel in graph_modules and 'hint("shuffle_hash")' in text:
            offenders.append(f'{rel}: hint("shuffle_hash")')
    assert not offenders, offenders
