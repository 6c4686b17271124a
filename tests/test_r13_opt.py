"""Round-13 optimization equivalence pins.

Every optimization this round changed an operator's INTERNALS while
claiming identical output; each claim gets a focused test here on
inputs built to stress the rewrite's edge cases (the full-registry
oracle sweep already covers the fixtures).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _old_verified_jaccard(candidates, t1, t2, threshold):
    """The pre-r13 verify tail, verbatim: derived-column filter that
    Catalyst pushes back into the join (double-evaluating
    array_intersect) — the REFERENCE the barrier form must match."""
    common = F.size(F.array_intersect("toks1", "toks2")).cast("double")
    union = (F.size("toks1") + F.size("toks2")).cast("double") - common
    return (
        candidates.join(t1, "doc1")
        .join(t2, "doc2")
        .withColumn("jaccard_raw", common / union)
        .filter(F.col("jaccard_raw") >= threshold)
        .select("doc1", "doc2", F.col("jaccard_raw").alias("jaccard"))
    )


def test_verified_jaccard_barrier_matches_old_form(spark):
    """The barrier + length-prefilter verify must emit EXACTLY the old
    form's rows, jaccard doubles bit-equal. The token pool sits ON the
    t=0.8 boundaries: an exact-threshold pair (J = 8/10 = 0.8), a
    length-filter-boundary true pair (|a|=4, |b|=5, J = 4/5), a
    just-below pair, and disjoint sets."""
    from ezbake_graph_spark.operators.llm_dedup import _verified_jaccard

    toksets = {
        1: [f"t{i}" for i in range(9)],          # 9 tokens
        2: [f"t{i}" for i in range(8)] + ["x1"],  # c=8 vs 1: J=8/10=0.8
        3: [f"t{i}" for i in range(4)],           # subset, sizes 4 vs 5
        4: [f"t{i}" for i in range(4)] + ["y1"],  # J(3,4)=4/5=0.8
        5: ["z1", "z2", "z3"],                    # disjoint
        6: [f"t{i}" for i in range(6)] + ["w1", "w2"],  # J(1,6)=6/11 < t
    }
    rows = [(k, v) for k, v in toksets.items()]
    d = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    ids = sorted(toksets)
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc1 long, doc2 long"
    )
    t1 = d.select(F.col("doc_id").alias("doc1"), F.col("toks").alias("toks1"))
    t2 = d.select(F.col("doc_id").alias("doc2"), F.col("toks").alias("toks2"))
    new = sorted(
        tuple(r) for r in _verified_jaccard(cand, t1, t2, 0.8).collect()
    )
    old = sorted(
        tuple(r) for r in _old_verified_jaccard(cand, t1, t2, 0.8).collect()
    )
    assert new == old
    assert (1, 2, 0.8) in [(a, b, j) for a, b, j in new]  # boundary kept
    assert (3, 4, 0.8) in [(a, b, j) for a, b, j in new]  # len-boundary kept


def test_minhash_plan_single_array_intersect(spark):
    """The whole point of the barrier: exactly ONE array_intersect in
    the optimized minhash plan (the old plan carried two — one pushed
    into the join condition, one in the surviving projection)."""
    from ezbake_graph_spark.operators.llm_dedup import _minhash_pairs

    df = _minhash_pairs(spark, SF_SMOKE, broadcast_ok=False)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("array_intersect") == 1, plan


def test_louvain_struct_max_matches_window_argmax(spark):
    """The r13 struct-max winner selection must pick the identical row
    as the old row_number window (desc score, asc cand) — exercised on
    a tie-heavy frame: duplicate best scores per id (tie -> smallest
    cand), negative scores, single-candidate ids."""
    rows = []
    # id 1: tie on best score 10 between cands 7 and 3 -> 3 wins
    rows += [(1, 7, 10), (1, 3, 10), (1, 9, 2)]
    # id 2: all-negative scores, best -1 at cand 5
    rows += [(2, 5, -1), (2, 4, -7)]
    # id 3: single candidate
    rows += [(3, 8, 0)]
    # id 4: three-way tie at score 4 -> cand 1 wins
    rows += [(4, 6, 4), (4, 2, 4), (4, 1, 4)]
    scored = spark.createDataFrame(rows, "id long, cand long, score long")
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.col("cand"))
    ref = {
        (r.id, r.cand)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    new = {
        (r.id, r.new_label)
        for r in scored.groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("cand")).alias("neg_cand"))
            ).alias("best")
        )
        .select("id", (-F.col("best.neg_cand")).alias("new_label"))
        .collect()
    }
    assert new == ref == {(1, 3), (2, 5), (3, 8), (4, 1)}


def _hits_reference(adj, iterations):
    """Plain-Python HITS: the unfused power iteration with an L1
    normalization after every half-step. Returns {id: (hub, auth)}."""
    verts = sorted({v for arc in adj for v in arc})
    hub = {v: 1.0 for v in verts}
    auth = {}
    for _ in range(iterations):
        raw = {}
        for s, d in adj:
            raw[d] = raw.get(d, 0.0) + hub.get(s, 0.0)
        t = sum(raw.values())
        auth = {v: (raw[v] / t if t else 0.0) for v in raw}
        hraw = {}
        for s, d in adj:
            hraw[s] = hraw.get(s, 0.0) + auth.get(d, 0.0)
        t = sum(hraw.values())
        hub = {v: (hraw[v] / t if t else 0.0) for v in hraw}
    return {v: (hub.get(v, 0.0), auth.get(v, 0.0)) for v in verts}


def _assert_hits_match(spark, adj, iterations):
    from ezbake_graph_spark.graph.pregel import hits

    edges = spark.createDataFrame(adj, "src long, dst long")
    got = {r.id: (r.hub, r.auth) for r in hits(edges, iterations=iterations).collect()}
    want = _hits_reference(adj, iterations)
    assert set(got) == set(want)
    for v, (eh, ea) in want.items():
        gh, ga = got[v]
        assert abs(gh - eh) < 1e-9 and abs(ga - ea) < 1e-9, (v, got[v], (eh, ea))


def test_hits_per_side_frames_match_reference_chain(spark):
    """pregel.hits after the per-side-frame restructure on a small
    NON-bipartite directed graph (vertex 2 is both src and dst; vertex
    4 is dst-only) vs a plain-Python power iteration with the same
    per-half-step L1 normalization. Sums here have <= 2 terms so float
    results are order-independent — comparison is near-exact. The
    fused supersteps (hub from raw auth sums, normalized once) match
    the unfused chain too: 19 of them on a graph with a cycle, a
    self-loop and a src-only vertex, and ``iterations=1``, which runs
    only the unfused last superstep."""
    _assert_hits_match(spark, [(1, 2), (2, 3), (1, 4), (3, 4)], 5)
    adj = [(1, 2), (2, 3), (3, 1), (1, 4), (3, 4), (5, 2), (2, 2)]
    _assert_hits_match(spark, adj, 20)
    _assert_hits_match(spark, adj, 1)


def test_hits_zero_totals_give_zero_scores(spark):
    """Arcs from a null src reach no hub, so every L1 total is 0 (an
    empty raw frame observes sum null): all scores are 0.0, not NaN or
    null, fused or not."""
    from ezbake_graph_spark.graph.pregel import hits

    edges = spark.createDataFrame([(None, 1), (None, 2)], "src long, dst long")
    for iterations in (1, 3):
        got = sorted(
            (tuple(r) for r in hits(edges, iterations=iterations).collect()),
            key=lambda r: (r[0] is not None, r[0]),
        )
        assert got == [(None, 0.0, 0.0), (1, 0.0, 0.0), (2, 0.0, 0.0)], got


def test_exact_jaccard_plan_single_array_intersect(spark):
    """``exact_jaccard_pairs`` carries the same single-evaluation
    barrier as minhash: exactly ONE array_intersect in its optimized
    plan (without the barrier the threshold filter is pushed into the
    verify join and array_intersect is planned twice)."""
    from ezbake_graph_spark.operators.llm_dedup import exact_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "an entirely different sentence about spark"),
        ],
        "doc_id long, text string",
    )
    df = exact_jaccard_pairs(docs, "doc_id", "text", 0.5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("array_intersect") == 1, plan
    assert [(r.doc1, r.doc2) for r in df.collect()] == [(1, 2)]
