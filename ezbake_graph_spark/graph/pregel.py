"""Pregel-style iterative graph algorithms as DataFrame driver loops.

BSP semantics per the Pregel/GraphX model [P]: each superstep is
  messages = edges ⨝ state  →  groupBy(dst).agg(...)   (2 keyed shuffles)
  state    = state ⨝ messages → vertex update
with driver-side iteration control (SURVEY.md §3.4).

Scale design: every loop runs on the superstep runtime in
``graph/loop.py`` —
- vertex state is checkpointed every superstep (``checkpoint``:
  lineage truncated, recompute broken, inherited statistics reset);
- edges are symmetrized (``symmetrize``), then materialized,
  partitioned by src and cached ONCE (``SuperstepLoop.keyed``), so
  each superstep's message join shuffles only the small vertex-state
  side;
- AQE is off and shuffle partitions are pinned to the edge volume for
  the loop's duration (``superstep_loop``), restored on exit.
Convergence checks are tiny jobs (``isEmpty`` over the checkpointed
state), run each superstep; fixed-iteration algorithms skip them.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ezbake_graph_spark.graph.loop import (
    checkpoint,
    observed_checkpoint,
    superstep_loop,
)


def symmetrize(edges: DataFrame, directed: bool = False) -> DataFrame:
    """Undirected view of an edge list: both directions, deduped.
    ``directed=True`` skips the reverse union (messages then flow along
    edge direction only — what a generic ``pregel_run`` over a directed
    graph needs) but keeps the dedup. Loops lay the result out with
    ``SuperstepLoop.keyed(sym, "src")``, the in-memory equivalent of
    bucketing the edge table by src.
    """
    if directed:
        return edges.select("src", "dst").distinct()
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.select("src", "dst").unionByName(rev).distinct()


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Weakly connected components by min-label propagation.

    vertices: (id,) — edges: (src, dst) directed or not (symmetrized
    here). Returns (id, component) where component = min vertex id
    reachable. Converges in O(diameter) supersteps.
    """
    state = vertices.select("id", F.col("id").alias("component"))
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        # Delta/frontier messaging (r12 optimization, guide §1.2 "remove
        # unnecessary shuffles and passes"): only vertices whose
        # component CHANGED last superstep need to re-broadcast it —
        # min-combined messages are idempotent, and an unchanged
        # vertex's value was already sent (and folded in) the superstep
        # after it last changed, so dropping the re-sends reaches the
        # identical fixpoint in the identical number of supersteps
        # (equivalence pinned by tests/test_graph.py). The message join
        # shrinks geometrically as components settle instead of staying
        # |V|-sized. The change flag rides INSIDE the checkpointed
        # state, so the convergence probe is a scan of the materialized
        # RDD — the old probe joined new-vs-old state, a whole extra
        # shuffle job per superstep on data the update had already seen.
        frontier = state
        for step in range(max_iter):
            msgs = (
                sym.join(frontier, sym.src == frontier.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("msg"))
            )
            new_state = (
                state.join(msgs, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
                    ).alias("component"),
                    (F.coalesce(F.col("msg"), F.col("component")) < F.col("component")
                     ).alias("_chg"),
                )
            )
            new_state = checkpoint(new_state)
            frontier = new_state.filter("_chg").select("id", "component")
            state = new_state.select("id", "component")
            if frontier.isEmpty():
                break
    return state


def bfs(
    vertices: DataFrame, edges: DataFrame, source_ids: list[int], max_depth: int = 6
) -> DataFrame:
    """Unweighted shortest hop-count from a seed set (min-dist Pregel).

    Returns (id, dist) for reached vertices only, dist <= max_depth.
    """
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        state = vertices.select(
            "id",
            F.when(F.col("id").isin(source_ids), F.lit(0)).alias("dist"),
        )
        for step in range(max_depth):
            frontier = state.filter(F.col("dist") == step)
            if frontier.isEmpty():
                break
            msgs = (
                sym.join(frontier, sym.src == frontier.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("dist") + 1).alias("msg"))
            )
            state = state.join(msgs, "id", "left").select(
                "id",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(2**31)),
                    F.coalesce(F.col("msg"), F.lit(2**31)),
                ).alias("d2"),
            )
            state = state.select(
                "id", F.when(F.col("d2") < 2**31, F.col("d2")).alias("dist")
            )
            state = checkpoint(state)
    return state.filter(F.col("dist").isNotNull())


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank on the undirected (symmetrized) graph.

    Returns (id, rank). Dangling vertices (degree 0) keep the teleport
    mass only. Float shuffle-sum order varies per run → rows-only
    correctness; ranks are comparable after round().
    """
    n = vertices.count()
    teleport = (1.0 - damping) / n
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        state = vertices.join(deg, "id", "left").select(
            "id",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
            F.lit(1.0 / n).alias("rank"),
        )
        for step in range(iterations):
            contribs = (
                sym.join(state, sym.src == state.id)
                .filter(F.col("deg") > 0)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
            state = state.join(contribs, "id", "left").select(
                "id",
                "deg",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            state = checkpoint(state, eager=(step == iterations - 1))
    return state.select("id", "rank")


def core_number(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Core number (degeneracy) per vertex via the h-index fixpoint.

    init c(v) = deg(v); iterate c(v) <- min(c(v), H(neighbor c's))
    where H is the h-index: for neighbor values sorted descending,
    max_i min(i, v_i). Monotonically non-increasing and converges to
    the exact core number — the classic peeling algorithm is inherently
    sequential; this formulation is keyed shuffles only. Returns (id, c).

    Hot-vertex posture (VERDICT r6 #6): the h-index is computed from
    the per-(id, value) HISTOGRAM — whose first aggregate partial-
    combines map-side — and a fold over the value-sorted histogram
    (block of value c ending at cumulative count m contributes
    min(c, m); H = max over blocks — identical to max_i min(i, v_i)
    over the desc sort). The previous ``row_number`` window put all
    deg(hub) neighbor rows in ONE task per hub; the histogram bounds
    per-id work by #distinct neighbor values instead (star-fixture
    timings in SCALE.md §7).
    """
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        c = checkpoint(
            sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("c")),
        )
        for step in range(max_iter):
            msgs = sym.join(c, sym.dst == c.id).select(sym.src.alias("id"), "c")
            hist = msgs.groupBy("id", "c").agg(F.count(F.lit(1)).alias("n"))
            acc0 = F.struct(
                F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("best")
            )
            h_of = F.aggregate(
                F.reverse(F.array_sort(F.collect_list(F.struct("c", "n")))),
                acc0,
                lambda acc, x: F.struct(
                    (acc.getField("cum") + x.getField("n")).alias("cum"),
                    F.greatest(
                        acc.getField("best"),
                        F.least(
                            x.getField("c"), acc.getField("cum") + x.getField("n")
                        ),
                    ).alias("best"),
                ),
                lambda acc: acc.getField("best"),
            )
            h = (
                hist.groupBy("id")
                .agg(h_of.alias("h"))
            )
            new_c = checkpoint(
                c.withColumnRenamed("c", "old")
                .join(h, "id")
                .select("id", F.least(F.col("old"), F.col("h")).alias("c"), "old"),
            )
            converged = new_c.filter(F.col("c") != F.col("old")).isEmpty()
            c = new_c.select("id", "c")
            if converged:
                break
    return c


def label_propagation(
    vertices: DataFrame, edges: DataFrame, iterations: int = 5
) -> DataFrame:
    """Synchronous label propagation, ``iterations`` fixed supersteps.

    Labels start as vertex ids; each superstep every vertex adopts the
    most frequent neighbor label (ties → smallest label, so the whole
    run is deterministic). Returns (id, label).

    Hot-vertex posture (VERDICT r6 #6): both aggregates partial-combine
    map-side — the vote count on (id, label) and the winner selection
    as ``max(struct(votes, -label))`` (lexicographic struct max =
    highest vote count, then smallest label — the identical tie-break
    the previous ``row_number`` window implemented). The window form
    put all of a hub's distinct-label votes in ONE task; the struct-max
    form reduces them map-side like any other combiner (star-fixture
    timings in SCALE.md §7) and drops a whole sort stage per superstep.
    """
    state = vertices.select("id", F.col("id").alias("label"))
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        for step in range(iterations):
            counts = (
                sym.join(state, sym.src == state.id)
                .groupBy(F.col("dst").alias("id"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("votes"))
            )
            winners = (
                counts.groupBy("id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("votes"), (-F.col("label")).alias("neg_label")
                        )
                    ).alias("w")
                )
                .select(
                    "id", (-F.col("w").getField("neg_label")).alias("new_label")
                )
            )
            state = state.join(winners, "id", "left").select(
                "id", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
            )
            state = checkpoint(state, eager=(step == iterations - 1))
    return state


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    source_ids: list[int],
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the seed set
    only, so ranks measure proximity to the seeds rather than global
    centrality. Same superstep shape as ``pagerank``; the only change
    is the teleport term (constant per vertex, nonzero only on seeds).
    Returns (id, rank).
    """
    n_src = len(source_ids)
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        seed_rank = F.when(
            F.col("id").isin(source_ids), F.lit(1.0 / n_src)
        ).otherwise(F.lit(0.0))
        state = vertices.join(deg, "id", "left").select(
            "id",
            F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
            seed_rank.alias("rank"),
            seed_rank.alias("teleport"),
        )
        for step in range(iterations):
            contribs = (
                sym.join(state, sym.src == state.id)
                .filter(F.col("deg") > 0)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
            state = state.join(contribs, "id", "left").select(
                "id",
                "deg",
                (
                    (1.0 - damping) * F.col("teleport")
                    + damping * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
                "teleport",
            )
            state = checkpoint(state, eager=(step == iterations - 1))
    return state.select("id", "rank")


def shortest_paths_weighted(
    vertices: DataFrame,
    weighted_edges: DataFrame,
    source_ids: list[int],
    max_iter: int = 20,
) -> DataFrame:
    """Single-source shortest paths with nonnegative edge weights —
    Bellman-Ford as a Pregel loop: relax every edge each superstep,
    keep the min distance, stop when no distance improves. Weights and
    distances stay integer (exact) here; with float weights the sums
    are per-path (no accumulation-order ambiguity), so results are
    still deterministic. ``weighted_edges``: (src, dst, w) directed;
    symmetrization is the caller's choice. Returns (id, dist) for
    reached vertices.
    """
    with superstep_loop(weighted_edges.sparkSession) as loop:
        # DELTA frontier: only vertices whose dist improved last round
        # re-relax; a non-improved vertex's relaxations were already
        # emitted with identical content and min-folded, so per-round
        # states are bit-identical to the relax-all form (classic delta
        # Bellman-Ford; oracle unchanged).
        e = loop.keyed(weighted_edges.select("src", "dst", "w"), "src")
        state = checkpoint(
            vertices.select(
                "id",
                F.when(F.col("id").isin(source_ids), F.lit(0).cast("long")).alias(
                    "dist"
                ),
            ),
        )
        frontier = state.filter(F.col("dist").isNotNull())
        for step in range(max_iter):
            msgs = (
                e.join(frontier, e.src == frontier.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("msg"))
            )
            new_state = checkpoint(
                state.withColumnRenamed("dist", "old")
                .join(msgs, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.coalesce(F.col("old"), F.lit(2**62)),
                        F.coalesce(F.col("msg"), F.lit(2**62)),
                    ).alias("d2"),
                    "old",
                )
                .select(
                    "id",
                    F.when(F.col("d2") < 2**62, F.col("d2")).alias("dist"),
                    "old",
                ),
            )
            frontier = new_state.filter(
                F.col("dist").eqNullSafe(F.col("old")) == F.lit(False)
            ).select("id", "dist")
            converged = frontier.isEmpty()
            state = new_state.select("id", "dist")
            if converged:
                break
    return state.filter(F.col("dist").isNotNull())


def temporal_earliest_arrival(
    vertices: DataFrame,
    contacts: DataFrame,
    source_ids: list[int],
    n_rounds: int = 12,
) -> DataFrame:
    """Bounded-horizon earliest-arrival over a TEMPORAL contact list
    (src, dst, t): a time-respecting path may take contact (u, v, t)
    only when t >= the arrival time at u, and the arrival it yields at
    v is t itself. Jacobi relaxation — every round relaxes ALL
    contacts against the previous round's full state and keeps the
    min — run for EXACTLY ``n_rounds`` rounds (the operator's
    semantics: earliest arrival using at most n_rounds contacts).
    Fixing the horizon instead of iterating to convergence keeps the
    result exact at every corpus size: reachability depth grows with
    the data (measured 5/10/21+ rounds at sf0.001/0.01/0.1), so a
    convergence-defined key would need a data-dependent unroll in its
    oracle; a bounded horizon is the same contract at any scale.
    Early rounds that no longer change anything are skipped — the
    relaxation is monotone (arrivals only decrease, and a lower
    arrival only WIDENS the feasible contact set), so a converged
    state equals the n_rounds state. Sources start at arrival 0
    (before every real timestamp). Returns (id, arr) for reached
    vertices."""
    with superstep_loop(contacts.sparkSession) as loop:
        e = loop.keyed(contacts.select("src", "dst", "t"), "src")
        state = checkpoint(
            vertices.select(
                "id",
                F.when(
                    F.col("id").isin(source_ids), F.lit(0).cast("long")
                ).alias("arr"),
            ),
        )
        # Delta relaxation (r12 optimization): only vertices whose
        # arrival IMPROVED last round re-relax their out-contacts.
        # A non-improved vertex's messages depend only on (arr,
        # contacts), were emitted verbatim the round after arr last
        # changed, and min-fold idempotently — so each round's state
        # is bit-identical to the relax-all Jacobi form (the bounded-
        # horizon "<= n_rounds contacts" semantics are per-round
        # state equality, preserved exactly; pinned by the key's
        # unchanged unrolled-CTE oracle). The frontier shrinks as
        # arrivals settle instead of staying |reached|-sized.
        frontier = state.filter(F.col("arr").isNotNull())
        for step in range(n_rounds):
            msgs = (
                e.join(frontier, e.src == frontier.id)
                .filter(F.col("t") >= F.col("arr"))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("t").alias("msg"))
            )
            new_state = checkpoint(
                state.withColumnRenamed("arr", "old")
                .join(msgs, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.coalesce(F.col("old"), F.lit(2**62)),
                        F.coalesce(F.col("msg"), F.lit(2**62)),
                    ).alias("a2"),
                    "old",
                )
                .select(
                    "id",
                    F.when(F.col("a2") < 2**62, F.col("a2")).alias("arr"),
                    "old",
                ),
            )
            frontier = new_state.filter(
                (F.col("arr").eqNullSafe(F.col("old")) == F.lit(False))
            ).select("id", "arr")
            converged = frontier.isEmpty()
            state = new_state.select("id", "arr")
            if converged:
                break
    return state.filter(F.col("arr").isNotNull())


def pregel_run(
    vertices: DataFrame,
    edges: DataFrame,
    message,
    merge,
    update: dict,
    max_iter: int = 20,
    directed: bool = False,
    check_cols: list[str] | None = None,
) -> DataFrame:
    """Generic user-programmable Pregel superstep loop — the
    message/merge/update hooks GraphX's ``Pregel.apply`` exposes,
    DataFrame-native (every named algorithm above is an instance of
    this shape; this entry point lets a user run their OWN).

    - ``vertices``: (id, <state cols>) — the initial vertex state.
    - ``edges``: (src, dst); symmetrized unless ``directed=True``.
    - ``message``: a Column evaluated on the edge⨝src-state frame
      (columns ``src``, ``dst`` and every state column of the SOURCE
      vertex) — the value sent to ``dst``.
    - ``merge``: commutative+associative combiner applied to the
      incoming messages per destination, e.g. ``F.min`` / ``F.sum``
      (called as ``merge(F.col("msg"))``).
    - ``update``: dict ``state_col -> Column`` over (id, old state
      cols, ``msg``) producing the next state; ``msg`` is NULL for
      vertices that received nothing this superstep (coalesce it).
      State columns absent from the dict carry over unchanged.
    - ``check_cols``: converge (stop early) when these state columns
      are unchanged for every vertex — adds one tiny probe job per
      superstep; omit for fixed-iteration algorithms (lineage then
      executes as ONE job at the final superstep, see ``loop.checkpoint``).

    Scale posture identical to the named algorithms: edges cached
    src-partitioned once, only vertex state shuffles per superstep,
    state eagerly checkpointed, AQE/partitions pinned loop-wide.

    >>> v = spark.createDataFrame(
    ...     [(i, i) for i in range(4)], "id long, component long")
    >>> e = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    >>> wcc = pregel_run(
    ...     v, e,
    ...     message=F.col("component"),
    ...     merge=F.min,
    ...     update={"component": F.least(
    ...         F.col("component"),
    ...         F.coalesce(F.col("msg"), F.col("component")))},
    ...     check_cols=["component"])
    >>> sorted((r["id"], r["component"]) for r in wcc.collect())
    [(0, 0), (1, 0), (2, 2), (3, 2)]
    """
    state_cols = [c for c in vertices.columns if c != "id"]
    unknown = set(update) - set(state_cols)
    if unknown:
        raise ValueError(f"update targets unknown state columns: {sorted(unknown)}")
    state = vertices.select("id", *state_cols)
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges, directed=directed), "src")
        for step in range(max_iter):
            msgs = (
                sym.join(state, sym.src == state.id)
                .select(F.col("dst").alias("id"), message.alias("msg"))
                .groupBy("id")
                .agg(merge(F.col("msg")).alias("msg"))
            )
            new_state = state.join(msgs, "id", "left").select(
                "id",
                *[
                    (update[c] if c in update else F.col(c)).alias(c)
                    for c in state_cols
                ],
            )
            # convergence probing needs each step materialized; fixed-
            # iteration loops defer execution to the last eager step
            new_state = checkpoint(
                new_state, eager=bool(check_cols) or step == max_iter - 1
            )
            if check_cols:
                changed = (
                    new_state.alias("n")
                    .join(state.alias("o"), "id")
                    .filter(
                        ~functools.reduce(
                            lambda a, b: a & b,
                            [
                                F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
                                for c in check_cols
                            ],
                        )
                    )
                )
                state = new_state
                if changed.isEmpty():
                    break
            else:
                state = new_state
    return state


def betweenness_sampled(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 12,
    scale_to_population: bool = True,
) -> DataFrame:
    """Sampled Brandes betweenness centrality (unweighted, undirected),
    ALL sources batched into one multi-root BFS.

    State is keyed (root, id): the forward pass runs ONE superstep per
    BFS level for the whole sample (not per source — the batched form
    of Brandes-Pich sampling), accumulating shortest-path counts
    sigma; the backward pass then applies the Brandes dependency
    recurrence level-by-level, delta(v) = sigma_v * sum over
    successors w of (1 + delta(w)) / sigma_w, again for all roots at
    once. Per-vertex dependencies sum over roots into the estimate;
    ``scale_to_population`` multiplies by N / (2 |S|) (the /2 is the
    undirected pair-double-counting convention), an unbiased estimate
    of exact undirected betweenness [Brandes 2001; Brandes-Pich 2007].

    Scale posture: supersteps = 2 x diameter regardless of |S|; each
    is one keyed join + aggregate whose state is |S| x reached
    vertices rows (the sample size bounds the multiplier), with the
    edge set cached loop-wide and one emptiness probe per level —
    never a row collect. sigma is exact in int64 up to 2^63 paths;
    delta is float64, deterministic up to shuffle-sum ordering (tests
    compare with tolerance). Returns (id, betweenness) for every
    vertex.
    """
    n_vertices = vertices.count()
    n_s = max(1, len(sources))
    spark = vertices.sparkSession
    roots = spark.createDataFrame([(int(s),) for s in sources], "root long")
    delta_frames: list[DataFrame] = []
    with superstep_loop(edges.sparkSession) as loop:
        sym = loop.keyed(symmetrize(edges), "src")
        lvl0 = checkpoint(
            roots.join(vertices, roots.root == vertices.id)
            .select("root", "id", F.lit(1).cast("long").alias("sigma")),
        )
        if lvl0.isEmpty():
            return vertices.select("id", F.lit(0.0).alias("betweenness"))
        levels = [lvl0]
        visited = lvl0.select("root", "id")
        for d in range(1, max_depth + 1):
            frontier = levels[-1]
            msgs = (
                sym.join(frontier, sym.src == frontier.id)
                .select("root", F.col("dst").alias("id"), "sigma")
                .join(visited, ["root", "id"], "left_anti")
                .groupBy("root", "id")
                .agg(F.sum("sigma").alias("sigma"))
            )
            nxt = checkpoint(msgs)
            if nxt.isEmpty():
                break
            levels.append(nxt)
            visited = checkpoint(visited.unionByName(nxt.select("root", "id")))
        # backward dependency pass, deepest level first
        delta_d: DataFrame | None = None
        for d in range(len(levels) - 1, 0, -1):
            w = levels[d]
            if delta_d is not None:
                w = w.join(delta_d, ["root", "id"], "left").select(
                    "root",
                    "id",
                    "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                )
            else:
                w = w.select("root", "id", "sigma", F.lit(0.0).alias("delta"))
            m = w.select(
                "root",
                "id",
                ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("m"),
            )
            contrib = (
                sym.join(m, sym.dst == m.id)
                .select("root", F.col("src").alias("id"), "m")
                .join(levels[d - 1].select("root", "id", "sigma"), ["root", "id"])
                .groupBy("root", "id", "sigma")
                .agg(F.sum("m").alias("msum"))
                .select(
                    "root", "id", (F.col("sigma") * F.col("msum")).alias("delta")
                )
            )
            delta_d = checkpoint(contrib)
            if d > 1:  # deltas FOR level d-1; level 0 is the root itself
                delta_frames.append(delta_d.select("id", "delta"))
    if not delta_frames:
        return vertices.select("id", F.lit(0.0).alias("betweenness"))
    all_d = delta_frames[0]
    for f in delta_frames[1:]:
        all_d = all_d.unionByName(f)
    summed = all_d.groupBy("id").agg(F.sum("delta").alias("bc"))
    scale = (n_vertices / (2.0 * n_s)) if scale_to_population else 1.0
    return (
        vertices.select("id")
        .join(summed, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("bc"), F.lit(0.0)) * F.lit(scale)).alias(
                "betweenness"
            ),
        )
    )


def hits(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) on a DIRECTED edge
    list, fixed-iteration power method with L1 normalization per
    half-step (auth from hubs along edges, then hubs from the NEW
    auths), matching the converged principal-eigenvector solution
    (golden-tested against a to-convergence reference iteration).

    Scale: the edge set is laid out TWICE (``SuperstepLoop.layout``),
    once partitioned by src and once by dst, so BOTH half-step joins
    co-locate against a resident layout and only the vertex-state side
    ever shuffles (the pagerank posture, doubled because HITS
    alternates join sides). Returns (id, hub, auth), each side summing
    to 1.

    One Spark job per superstep. Each L1 total is observed on the
    eager checkpoint of the raw sum it normalizes
    (``observed_checkpoint``) and enters the next plan as a literal, so
    no 1-row aggregate is re-run and broadcast back as a build job of
    its own. And supersteps 1..n-1 are
    FUSED: the hub update is scale-invariant,
    ``normalize(A·(Aᵀh / t_a)) = normalize(A·Aᵀh)``, so each of them
    is one plan (hub ⨝ by-src layout → raw auth sums, ⨝ by-dst layout
    → raw hub sums) and one observed checkpoint, and the raw auth is
    never normalized. Only the last superstep keeps its two half-steps,
    so the emitted auth is L1-normalized too. The skipped division only
    rescales the unnormalized hub sums: the hub entering a superstep
    sums to 1 (all ones, |V|, before the first), so a raw auth is at
    most 1 (in-degree) and a raw hub at most the max out-degree (times
    the max in-degree) — no overflow or underflow in float64. The
    emitted values equal the unfused chain's to rounding (~1e-16
    relative). ``graph_hits_exact`` cannot fuse: its integer floor
    divisions do not cancel.

    Scores are carried as per-side frames (hub on src-capable
    vertices, auth on dst-capable) instead of a full (id, hub, auth)
    state row per vertex — every edge endpoint is by construction
    present in the side it consumes, and the closing verts left-join
    restores the 0.0 rows (also the scores when a total is 0).
    Float-sum ordering is nondeterministic run to run — rows-only key,
    tolerance-pinned goldens.
    """
    if iterations < 1:
        raise ValueError(f"hits needs at least one superstep, got {iterations}")

    def normalized(raw: DataFrame, total: float, name: str) -> DataFrame:
        score = F.col("raw") / F.lit(total) if total else F.lit(0.0)
        return raw.select("id", score.alias(name))

    with superstep_loop(edges.sparkSession) as loop:
        dir_edges = loop.keyed(symmetrize(edges, directed=True), "src")
        by_dst = loop.layout(dir_edges.repartition(loop.partitions, "dst"))
        verts = (
            dir_edges.select(F.col("src").alias("id"))
            .unionByName(dir_edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint()
        )

        def auth_raw(hub: DataFrame) -> DataFrame:
            return (
                dir_edges.join(hub.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("raw"))
            )

        def hub_raw(auth: DataFrame) -> DataFrame:
            return (
                by_dst.join(auth.select(F.col("id").alias("dst"), "auth"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("auth").alias("raw"))
            )

        hub = verts.select("id", F.lit(1.0).alias("hub"))
        for _step in range(iterations - 1):
            hraw, t_h = observed_checkpoint(
                hub_raw(auth_raw(hub).withColumnRenamed("raw", "auth")), "raw"
            )
            hub = normalized(hraw, t_h, "hub")
        araw, t_a = observed_checkpoint(auth_raw(hub), "raw")
        auth = normalized(araw, t_a, "auth")
        hraw, t_h = observed_checkpoint(hub_raw(auth), "raw")
        hub = normalized(hraw, t_h, "hub")
        return (
            verts.join(hub, "id", "left")
            .join(auth, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint()
        )
