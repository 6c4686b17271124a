"""Streaming operators (SURVEY.md §2I; reference ingest layer [R] →
Structured Streaming).

Each window type has a **batch-equivalent** key (full DuckDB oracle —
identical semantics on the events table, per SURVEY §2I) and the live
micro-batch path is covered by rows-only smoke keys that actually run
``readStream`` → stateful op → sink with ``availableNow`` triggers.

Scale notes: windowed aggregations keep per-window state in the state
store keyed by (window, group); watermarks bound that state; session
windows merge in the state store. The batch forms below compile to
ordinary keyed shuffles.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ezbake_graph_spark import tables
from ezbake_graph_spark.determinism import (
    SCALE,
    bounded_sort,
    money_sum_expr,
    sql_money_sum,
)
from ezbake_graph_spark.graph.loop import SHUFFLE_PARTITIONS, scoped_conf
from ezbake_graph_spark.registry import register

_STREAM_TMP = "/tmp/ezgs_stream"


# ---------------------------------------------------------------- batch forms

_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       {sql_money_sum("value")} AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# Spark-dialect twin of _TUMBLING_SQL via the native window()
# operator; SQL-text form per tables.ensure_views.
_TUMBLING_SPARK = f"""
SELECT window.start AS window_start,
       event_type,
       count(*) AS n_events,
       {sql_money_sum("value")} AS sum_value
FROM events
GROUP BY window(ts, '1 hour'), event_type
"""


@register("stream_tumbling", oracle=_TUMBLING_SQL, tags=("I1", "bench"))
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (I1), batch image."""
    tables.ensure_views(spark, sf_dir)
    return spark.sql(_TUMBLING_SPARK).transform(
        bounded_sort, "window_start", "event_type"
    )


_SLIDING_SQL = """
SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k) AS window_start,
       count(*) AS n_events
FROM events
CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
GROUP BY window_start
ORDER BY window_start
"""


@register("stream_sliding", oracle=_SLIDING_SQL, tags=("I2",))
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (I2): 1 h windows every 15 min — each event lands
    in exactly 4 windows; the oracle enumerates them arithmetically."""
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


# Spark-dialect twin of _SESSION_SQL via the native session_window
# operator; SQL-text form per tables.ensure_views. No trailing global
# sort: presentation-only, and the correctness hash is
# order-insensitive.
_SESSION_SPARK = """
SELECT user_id,
       session_window.start AS session_start,
       session_window.end AS session_end,
       count(*) AS n_events
FROM events
GROUP BY session_window(ts, '30 minutes'), user_id
"""


@register("stream_session", oracle=_SESSION_SQL, tags=("I3", "bench"))
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window, 30-min gap (I3). Spark ``session_window`` ends a
    session when the next event is >= gap away (window end exclusive);
    the oracle's gaps-and-islands flag uses the identical rule."""
    tables.ensure_views(spark, sf_dir)
    return spark.sql(_SESSION_SPARK)


_STATIC_JOIN_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_events,
       {sql_money_sum("value")} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("stream_static_join", oracle=_STATIC_JOIN_SQL, tags=("I6",))
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream↔static-dim enrichment (I6), batch image: the dim side is
    broadcast, which is exactly the plan the streaming variant uses
    per micro-batch."""
    ev = tables.load(spark, sf_dir, "events")
    c = tables.load(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_expr(F.col("value")).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------- live smoke

def _events_stream_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """Materialize events as a file-stream source directory (one write
    per (sf_dir, copies); deterministic content)."""
    tag = f"{os.path.basename(sf_dir.rstrip('/'))}_x{copies}"
    path = os.path.join(_STREAM_TMP, "src", tag)
    done = os.path.join(path, "_EZGS_READY")
    if not os.path.exists(done):
        ev = tables.load(spark, sf_dir, "events")
        ev.coalesce(2).write.mode("overwrite").parquet(path)
        for i in range(1, copies):
            ev.coalesce(2).write.mode("append").parquet(path)
        open(done, "w").close()
    return path


# Size-picked streaming state partitioning. Each shuffle partition of a
# stateful streaming query owns a state store that pays per-batch task
# + commit overhead regardless of data volume; at the batch default
# (32) a ~1 MB source spends 5+ s on empty state stores (measured:
# stream_stream_join 7.6 s @ 32 parts -> 2.8 s @ 4). Target ~32 MB of
# source per state partition, clamped to [4, defaultParallelism] — at
# 100 TB/day the clamp lands on cluster parallelism, at test scale on
# 4. The streaming shuffle-partition count is FROZEN into the
# checkpoint on first start, which is why this must be right before
# .start(), and why fresh-checkpoint-per-call keeps it safe to vary.
_STREAM_STATE_BYTES_PER_PART = 32 * 1024 * 1024

# Bytes of the file-stream sources opened since the last query start —
# the seam every file stream passes through (_read_events_stream)
# records here; the query runners consume-and-reset. Registry queries
# run sequentially per session, so the handoff is race-free.
_PENDING_SRC_BYTES: list[int] = [0]


def _dir_bytes(path: str) -> int:
    try:
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    except OSError:
        return 0


def _take_stream_partitions(spark: SparkSession) -> int:
    nbytes, _PENDING_SRC_BYTES[0] = _PENDING_SRC_BYTES[0], 0
    need = -(-nbytes // _STREAM_STATE_BYTES_PER_PART)
    return max(4, min(spark.sparkContext.defaultParallelism, need))


def _read_events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    path = _events_stream_dir(spark, sf_dir, copies)
    _PENDING_SRC_BYTES[0] += _dir_bytes(path)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_to_memory(spark, sdf, name: str, output_mode: str) -> DataFrame:
    qname = f"ezgs_{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(_STREAM_TMP, "ckpt", qname)
    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(qname)


_SOURCE_SMOKE_SQL = """
SELECT event_type, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


@register("stream_source_smoke", oracle=_SOURCE_SMOKE_SQL, tags=("A5",))
def stream_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File streaming source (A5): readStream → memory sink, append.

    SQL-oracled: ``availableNow`` with no file-rate cap processes the
    whole source in ONE micro-batch, so the appended rows are exactly
    the events table and the per-type counts are deterministic."""
    sdf = _read_events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    out = _run_to_memory(spark, sdf, "source_smoke", "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events")).orderBy(
        "event_type"
    )


_SINK_SMOKE_SQL = """
SELECT count(*) AS n_purchases, count(DISTINCT user_id) AS n_users
FROM events WHERE event_type = 'purchase'
"""


@register("stream_sink_smoke", oracle=_SINK_SMOKE_SQL, tags=("A6",))
def stream_sink_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink (A6): per-batch custom write to parquet.

    SQL-oracled: the sink lands every purchase row exactly once (fresh
    output dir per call, one availableNow batch), so the read-back
    count/distinct-users equal the batch aggregate over events."""
    sdf = _read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    out_dir = os.path.join(_STREAM_TMP, "sink", uuid.uuid4().hex[:8])
    ckpt = os.path.join(_STREAM_TMP, "ckpt", os.path.basename(out_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            sdf.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    back = spark.read.parquet(out_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("user_id").alias("n_users"),
    )


_WATERMARK_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


@register("stream_watermark", oracle=_WATERMARK_SQL, tags=("I4",))
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregate (I4): 10-min watermark bounds
    window state; late events beyond it are dropped on a real stream.

    SQL-oracled: one availableNow batch means the watermark never
    advances mid-data, so nothing is dropped and complete-mode output
    equals the batch hourly aggregate — which is exactly what makes
    the check deterministic."""
    sdf = _read_events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    out = _run_to_memory(spark, agg, "watermark", "complete")
    return out.orderBy("window_start", "event_type")


_DEDUP_SQL = """
SELECT event_type,
       count(DISTINCT event_id) AS n_events,
       count(DISTINCT event_id) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_dedup", oracle=_DEDUP_SQL, tags=("I5",))
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (I5): the source holds every event
    TWICE; dropDuplicatesWithinWatermark must emit each once.

    SQL-oracled: event_id is unique in the fixture, so emitting each
    id exactly once makes both per-type counts equal the batch
    count(DISTINCT event_id) — any duplicate leak fails the hash."""
    sdf = _read_events_stream(spark, sf_dir, copies=2)
    dedup = (
        sdf.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    out = _run_to_memory(spark, dedup, "dedup", "append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").alias("n_distinct"),
    ).orderBy("event_type")


def _read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents as a file-stream source: each doc carries a synthetic
    deterministic event time (epoch 2024-01-01 + doc_id seconds), the
    arrival-order stand-in for a live ingest feed. One materialization
    per sf_dir, content deterministic."""
    tag = f"docs_{os.path.basename(sf_dir.rstrip('/'))}"
    path = os.path.join(_STREAM_TMP, "src", tag)
    done = os.path.join(path, "_EZGS_READY")
    if not os.path.exists(done):
        d = tables.load(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("ts"),
        )
        d.coalesce(2).write.mode("overwrite").parquet(path)
        open(done, "w").close()
    _PENDING_SRC_BYTES[0] += _dir_bytes(path)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


_NEAR_DEDUP_N_BANDS = 4

_NEAR_DEDUP_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), seeds AS (
  SELECT unnest(range(0, 8)) AS seed
), mh AS (
  SELECT doc_id, seed,
         min(('0x' || substr(md5(token || '#' || CAST(seed AS VARCHAR)), 1, 8))::BIGINT)
           AS m
  FROM tok CROSS JOIN seeds GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(m ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         CAST(s[2*b+1] AS VARCHAR) || '|' || CAST(s[2*b+2] AS VARCHAR) AS band_key
  FROM sig, (SELECT unnest(range(0, 4)) AS b) u
)
SELECT CAST(b AS INT) AS band_id,
       count(DISTINCT band_key) AS n_emitted,
       count(DISTINCT band_key) AS n_buckets
FROM bands GROUP BY b ORDER BY band_id
"""


@register("stream_near_dedup", oracle=_NEAR_DEDUP_SQL, tags=("ext", "stream"))
def stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate dedup (VERDICT r7 #4): the composition
    a live LLM-ingest pipeline actually runs — per-doc MinHash
    signature computed MAP-SIDE (array_min over the token array per
    seed: no shuffle, no stream-side groupBy, so it needs no extra
    watermark state), banded 4x2, then
    ``dropDuplicatesWithinWatermark`` on the (band_id, band_key) LSH
    bucket: the first doc to occupy a bucket is emitted, later
    near-duplicates (same band signature within the watermark) are
    dropped. The stream twin of K3's batch LSH: same md5 signature
    algebra as the hash-green ``dedup_minhash_signature`` key.

    SQL-oracled like I4/I5: one availableNow batch never advances the
    watermark mid-data, so emitted rows are EXACTLY one per distinct
    band bucket; which doc survives is arrival-order-dependent (true
    of any streaming dedup), so the registered aggregate reports the
    deterministic part — bucket cardinality per band, with
    n_emitted == n_buckets doubling as the no-duplicate-leak check
    (the I5 pattern). Pipelines that accept arrival-order canon get
    the survivor stream itself from ``api.near_dedup_stream``.

    State at scale: one entry per OCCUPIED bucket seen within the
    trailing watermark — bounded by distinct-signature count per
    window, not stream length; eviction follows the watermark
    (SCALE.md §6)."""
    sdf = _read_docs_stream(spark, sf_dir)
    toks = F.array_distinct(F.split("text", " "))

    def mh(seed: int):
        return F.array_min(
            F.transform(
                toks,
                lambda t: F.conv(
                    F.substring(F.md5(F.concat(t, F.lit(f"#{seed}"))), 1, 8), 16, 10
                ).cast("long"),
            )
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", mh(2 * b).cast("string"), mh(2 * b + 1).cast("string")
                ).alias("band_key"),
            )
            for b in range(_NEAR_DEDUP_N_BANDS)
        ]
    )
    rows = sdf.select("doc_id", "ts", F.explode(bands).alias("bk")).select(
        "doc_id", "ts", F.col("bk.band_id").alias("band_id"),
        F.col("bk.band_key").alias("band_key"),
    )
    dedup = rows.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["band_id", "band_key"]
    )
    out = _run_to_memory(spark, dedup, "near_dedup", "append")
    return (
        out.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_emitted"),
            F.countDistinct("band_key").alias("n_buckets"),
        )
        .orderBy("band_id")
    )


_STATEFUL_SQL = f"""
SELECT user_id,
       count(*) AS n_events,
       {sql_money_sum("value")} AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stateful", oracle=_STATEFUL_SQL, tags=("I7",))
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful op (I7): applyInPandasWithState keeps a
    per-user (count, micro-sum) state across micro-batches.

    SQL-oracled: micro-unit rounding happens JVM-side (same
    ``F.round`` as ``money_sum_expr``, so the integer state matches
    the oracle bit-for-bit; pandas' own ``.round()`` is half-even and
    would diverge on exact .5 micro grid points), the integer state
    sum is order-free, and the final division is one IEEE op."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sdf = _read_events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * SCALE).cast("long").alias("micro")
    )

    def track(key, pdfs, state: GroupState):
        n, micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            micro += int(pdf["micro"].sum())
        state.update((n, micro))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [micro / SCALE],
            }
        )

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, micro bigint"
    tracked = sdf.groupBy("user_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    out_dir = os.path.join(_STREAM_TMP, "stateful", uuid.uuid4().hex[:8])
    ckpt = os.path.join(_STREAM_TMP, "ckpt", os.path.basename(out_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            tracked.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    back = spark.read.parquet(out_dir)
    # keep the final state per user (max n_events)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        back.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


_SS_JOIN_SQL = """
SELECT p.user_id AS p_user, count(*) AS n_pairs
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id
ORDER BY p_user
"""


@register("stream_stream_join", oracle=_SS_JOIN_SQL, tags=("I-extra",))
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same
    user's clicks within the preceding hour, both sides real file
    streams with watermarks. The watermark + time-bound pair is what
    bounds join state at 100 TB/day: each side buffers at most
    (watermark + interval) of keyed history, independent of stream
    length. Batch-parity is asserted in tests/test_streaming.py."""
    clicks = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 1 hour")),
    )
    out = _run_to_memory(spark, joined, "ss_join", "append")
    # SQL-oracled: inner stream-stream joins emit matches as found, and
    # one availableNow batch sees both sides in full before any
    # watermark eviction — so the pair set equals the batch interval
    # join and the per-user counts are deterministic.
    return (
        out.groupBy("p_user")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("p_user")
    )


_MV_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       {sql_money_sum("value")} AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_incremental_mv", oracle=_MV_SQL, tags=("I-extra",))
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via foreachBatch: each
    micro-batch's partial aggregate merges into a parquet state table
    (read old state → union batch partials → re-aggregate → atomic
    swap), so the view is correct after every batch without ever
    re-scanning history — the streaming upsert-MV pattern a warehouse
    runs at 100 TB (state size ∝ group count, not input size; the
    merge is one tiny keyed aggregate per batch). maxFilesPerTrigger
    forces multiple micro-batches so the merge path is actually
    exercised; batch↔stream parity is asserted in
    tests/test_streaming.py."""
    import shutil

    src = _events_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run = uuid.uuid4().hex[:8]
    mv_dir = os.path.join(_STREAM_TMP, "mv", run)
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"mv_{run}")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "micro_value"
            ),
        )
        if os.path.exists(mv_dir):
            old = sess.read.parquet(mv_dir)
            merged = (
                old.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("micro_value").alias("micro_value"),
                )
            )
        else:
            merged = partial
        tmp = mv_dir + ".tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.exists(mv_dir):
            shutil.rmtree(mv_dir)
        os.rename(tmp, mv_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            sdf.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.read.parquet(mv_dir)
        .select(
            "event_type",
            "n_events",
            (F.col("micro_value").cast("double") / 1_000_000).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------ CDC apply

_CDC_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 1000000) AS BIGINT) AS value_micro,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops
  FROM events
)
SELECT user_id, event_id AS last_event_id,
       event_type AS last_event_type,
       value_micro AS last_value_micro, n_ops
FROM ranked WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""



def cdc_merge(old: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One CDC merge step: (ts_us, event_id)-max of {old latest} ∪
    {batch rows} per user_id, with additive n_ops. Tombstone rows
    ('error') stay IN the state so a late-arriving older update
    cannot resurrect a deleted key. Order-insensitive: any batch
    partition of the changelog converges to the same state
    (associative + commutative merge), pinned in
    tests/test_streaming.py."""
    from pyspark.sql import Window

    if old is not None:
        adds = (
            old.select("user_id", "n_ops")
            .unionByName(batch.select("user_id", "n_ops"))
            .groupBy("user_id")
            .agg(F.sum("n_ops").alias("n_ops"))
        )
        cand = old.drop("n_ops").unionByName(batch.drop("n_ops"))
    else:
        adds = batch.groupBy("user_id").agg(F.sum("n_ops").alias("n_ops"))
        cand = batch.drop("n_ops")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .join(adds, "user_id")
    )


@register("stream_cdc_apply", oracle=_CDC_SQL, tags=("I-extra", "stream"))
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the streaming MERGE that keeps a serving
    table in sync with a change stream: events are upserts keyed on
    user_id ('error' rows are DELETE tombstones), applied micro-batch
    by micro-batch via foreachBatch into a parquet state table with
    last-write-wins (ts, event_id) semantics.

    The state table keeps the LATEST op per key INCLUDING tombstones
    (a late-arriving older update must not resurrect a deleted key —
    dropping tombstones at merge time is the classic CDC bug;
    compaction may purge them only past the lateness horizon). The
    merge itself is order-insensitive: each batch takes the (ts,
    event_id)-max of {old latest} ∪ {batch rows}, so any batch
    arrival order converges to the same state — which is what makes
    the full-changelog SQL window its exact oracle. The final read
    drops tombstoned keys.

    At 100 TB this is foreachBatch MERGE INTO a keyed table (SCALE.md
    §6b): per-batch cost is one keyed window over batch ∪ matched
    state rows (state size ∝ live keys, not history), and n_ops
    accumulates as an additive column — no history rescan anywhere.
    """
    import shutil

    src = _events_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run = uuid.uuid4().hex[:8]
    state_dir = os.path.join(_STREAM_TMP, "cdc", run)
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"cdc_{run}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = batch_df.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            F.round(F.col("value") * 1_000_000)
            .cast("long")
            .alias("value_micro"),
            F.lit(1).cast("long").alias("n_ops"),
        )
        old = (
            sess.read.parquet(state_dir)
            if os.path.exists(state_dir)
            else None
        )
        latest = cdc_merge(old, batch)
        tmp = state_dir + ".tmp"
        latest.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            sdf.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.read.parquet(state_dir)
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value_micro").alias("last_value_micro"),
            "n_ops",
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------------ streaming top-k

_STREAM_TOPK_K = 5

_STREAM_TOPK_SQL = f"""
WITH counts AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, user_id, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id) AS rank
  FROM counts
)
SELECT event_type, rank, user_id, n
FROM ranked WHERE rank <= {_STREAM_TOPK_K}
ORDER BY event_type, rank
"""


@register(
    "stream_topk_counters",
    oracle=_STREAM_TOPK_SQL,
    tags=("I-extra", "stream", "bench2"),
)
def stream_topk_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving: per event type, the 5 heaviest users
    by event count, maintained as an ADDITIVE counter table merged
    per micro-batch via foreachBatch (counts are the canonical
    commutative-monoid state: any batch partition of the stream
    converges to the same counters, which is why the full-stream SQL
    window is an exact oracle). The rank is computed at READ time over
    the counter table — ranking inside the merge would break
    additivity (a rank is not a monoid).

    State is one row per live (type, user) key — at 100 TB the exact
    counter table is what Count-Min (``text_cms_sketch``) replaces
    when the key space itself outgrows storage; this key is the exact
    twin that bounds that trade. Per-batch cost: one keyed partial
    count + one keyed merge, no history rescan."""
    import shutil

    src = _events_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run = uuid.uuid4().hex[:8]
    state_dir = os.path.join(_STREAM_TMP, "topk", run)
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"topk_{run}")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        partial = batch_df.groupBy("event_type", "user_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        if os.path.exists(state_dir):
            old = sess.read.parquet(state_dir)
            merged = (
                old.unionByName(partial)
                .groupBy("event_type", "user_id")
                .agg(F.sum("n").alias("n"))
            )
        else:
            merged = partial
        tmp = state_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            sdf.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), "user_id"
    )
    return (
        spark.read.parquet(state_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _STREAM_TOPK_K)
        .select("event_type", "rank", "user_id", "n")
        .orderBy("event_type", "rank")
    )


# ------------------------------------------------------- state introspection

_STATE_SCAN_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS micro_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("scan_stream_state", oracle=_STATE_SCAN_SQL, tags=("I-extra", "stream"))
def scan_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATE STORE introspection — the state data source
    (``spark.read.format("statestore")``): run a keyed streaming
    aggregation to completion, then read the operator's state files
    from the checkpoint directly as a DataFrame. This is the ops
    surface for debugging stateful streams (inspect hot keys, audit
    state after an incident, verify a migration) without stopping or
    re-running the query; the oracle is the equivalent batch
    aggregate — after an availableNow run, operator state IS the full
    aggregation, which makes the introspection value-hash-checkable.

    State rows come back as (key struct, value struct, partition_id);
    the value struct carries the aggregation buffer (count, micro
    sum) in exact integers. At 100 TB the same read targets one
    operator/partition of a live checkpoint (options batchId/
    operatorId), and cost scales with state size, not stream
    history."""
    src = _events_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    run = uuid.uuid4().hex[:8]
    ckpt = os.path.join(_STREAM_TMP, "ckpt", f"state_{run}")
    sdf = spark.readStream.schema(schema).parquet(src)
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
            "micro_value"
        ),
    )
    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            agg.writeStream.outputMode("complete")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    st = spark.read.format("statestore").load(ckpt)
    return (
        st.select("key.*", "value.*")
        .toDF("event_type", "n_events", "micro_value")
        .orderBy("event_type")
    )


# -------------------------------------------------- transformWithState (M230)

_TWS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000 AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_transform_with_state", oracle=_TWS_SQL, tags=("I-extra", "stream"))
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing on the NEW transformWithState API
    (Spark 4 ``transformWithStateInPandas`` + ``StatefulProcessor``):
    the successor to applyInPandasWithState (``stream_stateful``, I7)
    with composable typed state handles (value/list/map state, timers,
    TTL) instead of one opaque tuple. Same per-user (count, micro-sum)
    contract as I7, so the two APIs are directly comparable — and the
    state arithmetic stays exact: micro rounding happens JVM-side
    BEFORE the python processor (pandas' half-even ``.round()`` would
    diverge on exact .5 micro grid points), integer state merges are
    order-free, and the final division is one IEEE op.

    At 100 TB this is the custom-operator rung for live pipelines —
    sessionizers, per-entity ML feature state, CDC-like merges — with
    state in the store (RocksDB in prod), per-key timers for eviction,
    and the state data source (``scan_stream_state``) as its debug
    surface.

    ENVIRONMENT GATE: transformWithState's state protocol needs
    ``google.protobuf`` (its python<->JVM state server speaks proto),
    which this container does not ship. When the import fails, the
    SAME processor contract runs through applyInPandasWithState (the
    I7 API — identical output, state algebra, and oracle); the TWS
    path is exercised verbatim wherever protobuf exists
    (tests/test_streaming.py skips accordingly). The gate is the
    import, not a config — no silent downgrade on a capable cluster."""
    import pandas as pd

    sdf = _read_events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * SCALE).cast("long").alias("micro")
    )
    try:
        import google.protobuf  # noqa: F401

        _tws_available = True
    except ImportError:
        _tws_available = False

    out_schema = "user_id bigint, n_events bigint, total_value double"
    if _tws_available:
        from pyspark.sql.streaming import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "totals", "n bigint, micro bigint"
                )

            def handleInputRows(self, key, rows, timer_values):
                n, micro = (
                    self._state.get() if self._state.exists() else (0, 0)
                )
                for pdf in rows:
                    n += len(pdf)
                    micro += int(pdf["micro"].sum())
                self._state.update((n, micro))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [micro / SCALE],
                    }
                )

            def close(self) -> None:
                pass

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        tracked = sdf.groupBy("user_id").transformWithStateInPandas(
            RunningTotals(), out_schema, "update", "none"
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def track(key, pdfs, state: GroupState):
            n, micro = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                micro += int(pdf["micro"].sum())
            state.update((n, micro))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [micro / SCALE],
                }
            )

        tracked = sdf.groupBy("user_id").applyInPandasWithState(
            track,
            out_schema,
            "n bigint, micro bigint",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    out_dir = os.path.join(_STREAM_TMP, "tws", uuid.uuid4().hex[:8])
    ckpt = os.path.join(_STREAM_TMP, "ckpt", os.path.basename(out_dir))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with scoped_conf(spark, {SHUFFLE_PARTITIONS: _take_stream_partitions(spark)}):
        q = (
            tracked.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    back = spark.read.parquet(out_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        back.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )
