"""The superstep runtime every iterative graph operator runs on.

A superstep is a vertex⨝message join, a group-by and a checkpoint
(the Pregel/GraphX model over DataFrames; Pregelix plans it as one
join/group-by). The math differs per algorithm; the scaffolding
around it does not, and lives here once:

- ``superstep_loop``: scoped loop settings. AQE is off and
  ``spark.sql.shuffle.partitions`` pinned to
  ``max(4, min(session value, defaultParallelism))`` for the body of
  the ``with`` block. Every superstep re-runs the same fixed, small,
  known-size shuffles, so AQE's re-planning only adds per-stage jobs
  (~16% of superstep wall time on the sf0.1 PageRank), and an unpinned
  loop runs every group-by at the session width (sf0.01 core_number:
  23 s unpinned vs 8 s pinned on a vanilla 200-partition session).
  Both settings are restored on exit, and every edge layout the loop
  cached is unpersisted, also when a superstep raises.
- ``SuperstepLoop.keyed``: the keyed edge layout. The edge set is
  materialized once, sized to ~250k rows per partition (clamped to the
  pin), hash-partitioned by the join key and handed to ``layout``.
- ``SuperstepLoop.layout``: the one way a loop holds a cached edge
  layout: cached for the loop's lifetime and hinted ``shuffle_hash``.
  The hint is the contract: each superstep's join against the layout
  reuses its resident hash partitioning, so only the vertex-state side
  shuffles. Without it the planner (AQE off, a cached layout below the
  broadcast threshold, a state checkpoint that reports the default
  size) broadcasts the edges instead: one extra broadcast-build job per
  superstep join, every superstep.
- ``checkpoint``: the per-superstep state checkpoint,
  ``localCheckpoint`` plus a statistics reset (SCALE.md §21).
- ``observed_checkpoint``: an eager ``checkpoint`` that also returns
  the sum of one column, read through an ``Observation`` of the same
  job. A normalizer (HITS' L1 total, Louvain's 2m) becomes a Python
  literal of the next superstep's plan instead of a 1-row aggregate
  that each reference re-runs as a broadcast build job.

Loop settings are session-wide: Spark keeps one SQL conf per session,
so one loop's pin (and its restore on exit) applies to every query
running on that session meanwhile. Callers that share one session
across threads must not run loops concurrently.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

AQE = "spark.sql.adaptive.enabled"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# edge rows per partition of a keyed layout
_ROWS_PER_PARTITION = 250_000


@contextmanager
def scoped_conf(
    spark: SparkSession, settings: dict[str, object]
) -> Iterator[Callable[[str, object], None]]:
    """Set SQL conf keys for the body of a ``with`` block; restore the
    previous values on exit, also when the body raises. Yields a setter
    that re-pins a key mid-block; what it sets is restored too.

    The only writer of the AQE and shuffle-partition settings in the
    package besides ``session.get_session``
    (tests/test_loop.py pins that)."""
    conf = spark.conf
    saved: dict[str, str] = {}

    def pin(key: str, value: object) -> None:
        saved.setdefault(key, conf.get(key))
        conf.set(key, str(value))

    try:
        for key, value in settings.items():
            pin(key, value)
        yield pin
    finally:
        for key, value in saved.items():
            conf.set(key, value)


class SuperstepLoop:
    """Handle on one running loop: the pinned partition count, the
    keyed edge layout, and the frames to unpersist on exit."""

    def __init__(self, pin: Callable[[str, object], None], partitions: int):
        self._pin = pin
        self.partitions = partitions
        self._cached: list[DataFrame] = []

    def layout(self, df: DataFrame) -> DataFrame:
        """A cached edge layout (module docstring): ``df`` cached until
        the loop exits and hinted ``shuffle_hash``, so a superstep join
        against it is planned as a shuffled hash join on its resident
        partitioning, never as a broadcast of it. ``df`` must already be
        hash-partitioned by the join key at ``self.partitions``."""
        df = df.cache()
        self._cached.append(df)
        return df.hint("shuffle_hash")

    def keyed(self, edges: DataFrame, key: str) -> DataFrame:
        """Keyed edge layout: materialize ``edges`` once (so the sizing
        count and the repartition do not each recompute a caller's
        derived frame), size the partition count to the edge volume,
        re-pin the loop's shuffle partitions to it, then hash-partition
        by ``key`` and cache (pin first: the CacheManager compiles the
        cached plan under the conf in force when it is registered). The
        layout advertises its partitioning, so every superstep's join
        on ``key`` shuffles only the other side. A superstep runs
        dozens of tiny stages, so over-partitioning a small graph only
        pays scheduling overhead (sf0.1 PageRank: 32 -> 8 partitions
        halved the loop)."""
        edges = edges.localCheckpoint(eager=True)
        self.partitions = max(
            4, min(self.partitions, edges.count() // _ROWS_PER_PARTITION + 1)
        )
        self._pin(SHUFFLE_PARTITIONS, self.partitions)
        return self.layout(edges.repartition(self.partitions, key))


@contextmanager
def superstep_loop(spark: SparkSession) -> Iterator[SuperstepLoop]:
    """Run a loop under the scoped loop settings (module docstring).
    The loop must materialize its result (an eager checkpoint) before
    the block exits: anything executed after runs at session settings
    and without the loop's cached frames."""
    session_width = int(spark.conf.get(SHUFFLE_PARTITIONS))
    pin = max(4, min(session_width, spark.sparkContext.defaultParallelism))
    with scoped_conf(spark, {AQE: "false", SHUFFLE_PARTITIONS: pin}) as set_conf:
        loop = SuperstepLoop(set_conf, pin)
        try:
            yield loop
        finally:
            for df in loop._cached:
                df.unpersist()


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint superstep state: ``localCheckpoint`` plus a statistics
    reset.

    The checkpoint truncates lineage (else the plan doubles per
    superstep) and breaks recompute (else the convergence probe and the
    next superstep each re-execute this superstep's shuffles; sf0.1 WCC
    went 40 s -> 9 s when fixed). ``eager=False`` keeps both but defers
    execution: fixed-iteration loops checkpoint lazily mid-loop and run
    the whole chain as one job at their final eager checkpoint, which
    must happen inside ``superstep_loop``.

    The reset: ``localCheckpoint`` inherits the parent plan's
    ``sizeInBytes``, and the join estimator multiplies child sizes, so a
    superstep with J joins grows the estimate's digit count (J+1)x per
    round until planning drowns in BigInteger multiplication (SCALE.md
    §21). Re-wrapping the same materialized partitions in a fresh
    LogicalRDD drops the inherited statistics (the estimate becomes
    ``spark.sql.defaultSizeInBytes``), all JVM-side."""
    ck = df.localCheckpoint(eager=eager)
    jdf = ck._jdf
    spark = ck.sparkSession
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        ),
        spark,
    )


def observed_checkpoint(df: DataFrame, column: str) -> tuple[DataFrame, int | float]:
    """Eager ``checkpoint`` of ``df`` plus the sum of ``column`` over
    its rows, observed in the checkpoint's own job (no extra job).
    The sum is a Python literal; 0 for an empty frame."""
    obs = Observation()
    ck = checkpoint(df.observe(obs, F.sum(column).alias("total")))
    total = obs.get["total"]
    return ck, 0 if total is None else total
