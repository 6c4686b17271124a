"""Deduplication operators (SURVEY.md §2K: K1–K3 + simhash/fingerprint).

The 100 TB design ladder:
- K1 exact dedup groups by md5(text) — the shuffle key is a 32-byte
  digest, never the document body.
- K2 exact Jaccard pairs uses an inverted-index self-join (explode
  tokens → join on token → count common) — keyed shuffles only; the
  quadratic all-pairs comparison never materializes. Declared on a
  doc_id<200 slice because exact all-pairs is the *oracle*, not the
  scale path.
- K3 MinHash-LSH is the scale path: 64-hash signatures, 16 bands × 4
  rows; only band-bucket collisions become candidate pairs, then the
  exact Jaccard kernel verifies just those candidates.
- Simhash gives the complementary hamming-distance near-dup family
  with 12-bit-band blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ezbake_graph_spark import tables
from ezbake_graph_spark.registry import register

N_MINHASH = 64
N_BANDS = 16
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.8


def _doc_tokens(spark: SparkSession, sf_dir: str, max_doc: int | None = None) -> DataFrame:
    """Distinct (doc_id, token) pairs — the inverted-index atoms."""
    d = tables.load(spark, sf_dir, "documents")
    if max_doc is not None:
        d = d.filter(F.col("doc_id") < max_doc)
    return d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )


_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY canonical_doc_id
"""


@register("dedup_exact", oracle=_EXACT_SQL, tags=("K1", "bench2"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (K1): canonical doc per identical text, keeping the
    min doc_id. Groups on md5(text) so the shuffle moves digests, not
    documents."""
    d = tables.load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_doc_id")
    )


_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 200
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks)) AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc1, doc2
"""


def _jaccard_pairs(tok: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for every pair sharing >= 1 token, via
    inverted-index self-join. Input: (doc_id, token) distinct."""
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.select(F.col("doc_id").alias("doc1"), "token")
    b = tok.select(F.col("doc_id").alias("doc2"), "token")
    common = (
        a.join(b, "token")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    n1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    jac = F.col("common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("common")
    ).cast("double")
    return (
        common.join(n1, "doc1")
        .join(n2, "doc2")
        .select("doc1", "doc2", jac.alias("jaccard_raw"))
    )


@register("dedup_jaccard_pairs", oracle=_JACCARD_SQL, tags=("K2",))
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (K2): token-set Jaccard >= 0.8 on the
    doc_id<200 slice (the all-pairs oracle is quadratic; K3 is the
    scale path)."""
    tok = _doc_tokens(spark, sf_dir, max_doc=200)
    return (
        _jaccard_pairs(tok)
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", F.col("jaccard_raw").alias("jaccard"))
        .orderBy("doc1", "doc2")
    )


# Broadcast budget for the MinHash verify stage's per-doc token-set
# table, mirroring Spark's default autoBroadcastJoinThreshold (10 MB).
# The raw documents parquet bytes upper-bound the exploded distinct
# token sets; x4 covers decompression + JVM row overhead.
_TOKSET_BROADCAST_BUDGET = 10 * 1024 * 1024
_TOKSET_EXPANSION = 4


def _toksets_broadcastable(sf_dir: str, budget: int = _TOKSET_BROADCAST_BUDGET) -> bool:
    """Size-pick for the verify-stage join strategy: True only when the
    on-disk documents table (a job-free upper bound on the token-set
    table) fits the broadcast budget with expansion headroom."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return False
    return nbytes * _TOKSET_EXPANSION <= budget


@register("dedup_minhash", oracle=None, tags=("K3", "rows-only", "bench2"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup (K3) over ALL documents — the 100 TB
    path: 64 min-hashes per doc (one aggregation), 16 band buckets,
    candidate pairs only from band collisions, then exact-Jaccard
    verification of candidates. With 16 bands x 4 rows the collision
    probability at j=0.8 is ~0.9986, so recall vs K2 is ~1 (checked in
    tests/test_llm.py)."""
    return _minhash_pairs(spark, sf_dir)


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, broadcast_ok: bool | None = None
) -> DataFrame:
    """Fixture-bound K3 wrapper: tokens from the documents table, join
    strategy size-picked via ``_toksets_broadcastable`` (tests override
    with an explicit ``broadcast_ok``)."""
    if broadcast_ok is None:
        broadcast_ok = _toksets_broadcastable(sf_dir)
    return minhash_pairs(_doc_tokens(spark, sf_dir), broadcast_ok=broadcast_ok)


def _verified_jaccard(
    candidates: DataFrame, t1: DataFrame, t2: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc1, doc2) pairs
    against token-set lookups t1=(doc1, toks1) / t2=(doc2, toks2):
    returns (doc1, doc2, jaccard) with jaccard >= threshold.

    r13 optimization (guide §1.4/§4.4 "stop the optimizer duplicating
    expensive expressions"; VERDICT r12 #4): the threshold filter on
    the DERIVED jaccard column used to be pushed back into the join
    condition, so ``array_intersect`` — the dominant verify cost —
    evaluated TWICE per candidate (once in the join's post-condition,
    once again in the surviving projection; ~12.5M evaluations for
    9.5M candidates at sf0.1). Two changes, both output-identical
    (pinned by test_r13_opt.py against the old verify form):

    1. A LENGTH prefilter before the intersect: J >= t forces
       min(|a|,|b|) >= t*max(|a|,|b|) (common <= min and union >= max)
       — two size() calls prune pairs that could never verify, with
       EPS slack keeping float-boundary pairs on the candidate side
       (the exact_jaccard_pairs convention; extra candidates are
       harmless, lost ones are not). Deterministic, so Catalyst pushes
       it into the join — the cheap check is what the join SHOULD run.
    2. An optimizer barrier on the intersect itself: ``+ rand()*0.0``
       adds exactly +0.0 (rand ∈ [0,1), never null/NaN, so the product
       is always 0.0 and x + 0.0 is bit-identical for the non-negative
       sizes here) but marks the projection NONDETERMINISTIC, which
       PushDownPredicates and CollapseProject must not duplicate or
       push through — the threshold filter now reads the materialized
       ``common`` attribute: ONE intersect per candidate row
       (plan-asserted: exactly one array_intersect in the final plan).
    """
    eps = 1e-9
    sz1, sz2 = F.size("toks1"), F.size("toks2")
    len_ok = (
        F.least(sz1, sz2).cast("double")
        >= threshold * F.greatest(sz1, sz2).cast("double") - eps
    )
    common_once = (
        F.size(F.array_intersect("toks1", "toks2")).cast("double")
        + F.rand() * F.lit(0.0)
    )
    return (
        candidates.join(t1, "doc1")
        .join(t2, "doc2")
        .filter(len_ok)
        .withColumn("common", common_once)
        .withColumn(
            "jaccard_raw",
            F.col("common") / ((sz1 + sz2).cast("double") - F.col("common")),
        )
        .filter(F.col("jaccard_raw") >= threshold)
        .select("doc1", "doc2", F.col("jaccard_raw").alias("jaccard"))
    )


def minhash_pairs(
    tok: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    broadcast_ok: bool = False,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over any (doc_id, token) table —
    the reusable parameterized entry (see ``ezbake_graph_spark.api``).

    ``tok`` must hold DISTINCT (doc_id, token) rows. Returns
    (doc1, doc2, jaccard) with doc1 < doc2 and exact token-set Jaccard
    >= ``threshold``, candidates generated by ``n_bands``-band /
    ``rows_per_band``-row LSH over ``n_bands * rows_per_band``
    min-hashes (default 16x4 = 64, tuned for threshold~0.8; lower
    thresholds need fewer rows per band — ``api.minhash_near_dups``
    derives the banding from the threshold). ``broadcast_ok`` opts the
    verify-stage token-set lookups into broadcast joins — leave False
    (keyed joins) unless the per-doc token-set table provably fits the
    broadcast budget.
    """
    spark = tok.sparkSession
    n_minhash = n_bands * rows_per_band
    tok = tok.cache()
    sig_cols = [
        F.min(F.xxhash64(F.concat(F.col("token"), F.lit(f"#perm{i}")))).alias(f"h{i}")
        for i in range(n_minhash)
    ]
    sigs = tok.groupBy("doc_id").agg(*sig_cols)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    # cache the tiny banded table (docs x n_bands rows of 3 longs):
    # without it, BOTH sides of the bucket self-join recompute the
    # 64-hash signature aggregate — measured 4.3x on the sf0.1
    # near-dup-heavy fixture (36 s -> 8.5 s for the full kernel)
    bands = sigs.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    ).cache()
    left = bands.select("band_id", "band_hash", F.col("doc_id").alias("doc1"))
    right = bands.select("band_id", "band_hash", F.col("doc_id").alias("doc2"))
    candidates = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        # Plain distinct (r12 optimization, guide §2.3 "aggregate
        # before you shuffle"): the group-by behind distinct PARTIAL-
        # aggregates map-side, so the ~5x band-collision multiplicity
        # (measured sf0.1: 47.9M collision rows -> 9.5M distinct
        # pairs) is partly collapsed before the exchange instead of
        # shuffling every collision row. The earlier repartition-
        # then-distinct order (which this replaces) forced ALL
        # collision rows through the shuffle to defend against AQE
        # under-partitioning the verify stage; measured today AQE's
        # parallelismFirst coalescing keeps the post-distinct stage at
        # session parallelism, and the full kernel reads 9.45 s ->
        # 7.90 s with byte-identical output (pairs and order).
        #
        # CONFIG ASSUMPTION (ADVICE r12): this relies on the session
        # defaults spark.sql.adaptive.enabled=true AND
        # spark.sql.adaptive.coalescePartitions.parallelismFirst=true
        # (both Spark defaults, asserted by session.py's posture). A
        # session with AQE off — or parallelismFirst=false with a large
        # advisory size — can coalesce these ~16-byte candidate rows
        # below cluster parallelism and SERIALIZE the array_intersect
        # verify (the hazard exact_jaccard_pairs' explicit repartition
        # still defends against; prior measurement there: 22 s vs
        # ~1.5 s). If the session posture ever changes, restore an
        # explicit repartition(defaultParallelism, "doc1", "doc2") here.
        .distinct()
    )
    # Verify ONLY the candidate pairs: pull each side's token set, then
    # array_intersect computes exact Jaccard per pair. Work is linear
    # in |candidates|, never quadratic in the corpus — the whole point
    # of banding at 100 TB. The join strategy is SIZE-PICKED, same
    # policy as the cosine pair kernel (_apply_pair_kernel): when the
    # on-disk documents bytes bound the token-set table under the
    # broadcast budget, both lookups broadcast (map-side verify, the
    # candidate pairs never shuffle again); past the budget they become
    # keyed shuffled joins on doc1/doc2 — never an unconditional
    # broadcast of a table that grows with the corpus.
    toksets = tok.groupBy("doc_id").agg(F.collect_set("token").alias("toks"))
    t1 = toksets.select(F.col("doc_id").alias("doc1"), F.col("toks").alias("toks1"))
    t2 = toksets.select(F.col("doc_id").alias("doc2"), F.col("toks").alias("toks2"))
    if broadcast_ok:
        t1, t2 = F.broadcast(t1), F.broadcast(t2)
    else:
        t1, t2 = t1.hint("shuffle_hash"), t2.hint("shuffle_hash")
    verified = _verified_jaccard(candidates, t1, t2, threshold)
    # Materialize the verified pairs in a shuffle BEFORE the global
    # sort (r12 optimization, guide §1.4/§2.4): the closing orderBy's
    # range exchange SAMPLES its child to pick partition bounds, and
    # when that child is an unmaterialized map stage the whole
    # candidate verify (array_intersect over every candidate pair)
    # executes TWICE — once for the sample, once for the real
    # exchange (measured sf0.1: 5.4 s verify -> 11.0 s with the sort
    # on top). One round-robin repartition of the verified output
    # (~16 bytes + jaccard per TRUE pair) turns the sample into a
    # shuffle-read; the sort itself is unchanged, rows identical.
    return verified.repartition(spark.sparkContext.defaultParallelism).orderBy(
        "doc1", "doc2"
    )


NGRAM_N = 3
NGRAM_THRESHOLD = 0.6

_NGRAM_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id < 200
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM t WHERE len(w) >= {NGRAM_N}
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / CAST(len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      >= {NGRAM_THRESHOLD}
ORDER BY doc1, doc2
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_SQL, tags=("K2b",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (word 3-gram shingle) Jaccard near-dup pairs — stricter
    than token-set Jaccard (K2) because shingles preserve local word
    order. Same inverted-index self-join kernel, shingles as the index
    atoms; declared on the doc_id<200 slice (the all-pairs form is the
    oracle; MinHash over shingles is the scale path, identical to K3
    with shingle tokens)."""
    d = tables.load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    w = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (NGRAM_N - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i.cast("int")),
                F.element_at(w, (i + 1).cast("int")),
                F.element_at(w, (i + 2).cast("int")),
            ),
        )
    )
    tok = (
        d.filter(F.size(w) >= NGRAM_N)
        .select("doc_id", F.explode(shingles).alias("token"))
    )
    return (
        _jaccard_pairs(tok)
        .filter(F.col("jaccard_raw") >= NGRAM_THRESHOLD)
        .select("doc1", "doc2", F.col("jaccard_raw").alias("jaccard"))
        .orderBy("doc1", "doc2")
    )


EMBED_DUP_THRESHOLD = 0.4

_EMBED_DUP_SQL = f"""
SELECT a.vec_id AS vid1, b.vec_id AS vid2,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6)
      >= {EMBED_DUP_THRESHOLD}
ORDER BY vid1, vid2
"""


@register("dedup_embedding", oracle=_EMBED_DUP_SQL, tags=("K2c",))
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: all pairs with cosine >= 0.4
    (the fixture vectors are near-random, so 0.4 marks the far tail).
    Same grid-partitioned block-pair matmul kernel as sim_cosine_topk,
    but threshold-filtered instead of top-k — each pair-task emits only
    its qualifying pairs, so output (not the quadratic pair space)
    bounds the result shuffle, and no corpus matrix is ever built on
    the driver. Scale path: prune candidates first via sim_blocked /
    sim_ivf cells, then apply this same threshold kernel per cell."""
    import pandas as pd

    from ezbake_graph_spark.operators.llm_similarity import (
        _apply_pair_kernel,
        _grid_blocks,
        _pair_group_sims,
    )

    n_blocks = _grid_blocks(spark, sf_dir)

    def pair_thresh(pdf):
        out = _pair_group_sims(pdf, n_blocks)
        empty = pd.DataFrame({"vid1": [], "vid2": [], "cosine": []}).astype(
            {"vid1": "int64", "vid2": "int64", "cosine": "float64"}
        )
        if out is None:
            return empty
        v1, v2, s = out
        keep = s >= EMBED_DUP_THRESHOLD
        if not keep.any():
            return empty
        return pd.DataFrame({"vid1": v1[keep], "vid2": v2[keep], "cosine": s[keep]})

    local = _apply_pair_kernel(spark, sf_dir, pair_thresh)
    return local.orderBy("vid1", "vid2")


N_SIMHASH_BITS = 48
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = N_SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 6


@register("dedup_simhash", oracle=None, tags=("K-extra", "rows-only"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup: 48-bit token-set simhash, 12-bit band
    blocking, hamming distance <= 6 via bit_count(xor). Candidate
    generation is a keyed join on band values — no all-pairs."""
    tok = _doc_tokens(spark, sf_dir)
    h = F.xxhash64("token")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(N_SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sim = F.lit(0).cast("long")
    for i in range(N_SIMHASH_BITS):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(0)
    sigs = agg.select("doc_id", sim.alias("simhash"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                .alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = sigs.select("doc_id", "simhash", F.explode(band_structs).alias("b")).select(
        "doc_id", "simhash", "b.band_id", "b.band_val"
    )
    left = bands.select(
        "band_id", "band_val", F.col("doc_id").alias("doc1"), F.col("simhash").alias("sh1")
    )
    right = bands.select(
        "band_id", "band_val", F.col("doc_id").alias("doc2"), F.col("simhash").alias("sh2")
    )
    return (
        left.join(right, ["band_id", "band_val"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select(
            "doc1",
            "doc2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_MAX)
        .orderBy("doc1", "doc2")
    )


_FINGERPRINT_SQL = """
WITH t AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS fingerprint
  FROM documents
)
SELECT fingerprint,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_docs
FROM t
GROUP BY fingerprint
ORDER BY canonical_doc_id
"""


@register("text_fingerprint", oracle=_FINGERPRINT_SQL, tags=("K-extra",))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token bag
    — an order-insensitive content fingerprint grouping docs that use
    exactly the same vocabulary."""
    d = tables.load(spark, sf_dir, "documents")
    fp = F.md5(
        F.encode(
            F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " "),
            "UTF-8",
        )
    )
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("canonical_doc_id")
    )


_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, ts, event_type, value
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


@register("dedup_upsert_latest", oracle=_UPSERT_SQL, tags=("ext", "dedup"))
def dedup_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style upsert compaction: latest row per key by event time.

    The lakehouse MERGE/compaction primitive as one windowed rank —
    a single keyed shuffle on user_id; at 100 TB this runs per
    partition of a time-bucketed changelog, and the (ts DESC, event_id
    DESC) tie-break makes the survivor deterministic."""
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    )


PREFIX_T = 0.8  # Jaccard threshold
PREFIX_SLICE = 1000

_PREFIX_SQL = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < {PREFIX_SLICE}
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / CAST(len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / CAST(len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks)) AS DOUBLE) >= {PREFIX_T}
ORDER BY doc1, doc2
"""


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = PREFIX_T,
) -> DataFrame:
    """Parameterized EXACT Jaccard self-join via prefix filtering
    (AllPairs/PPJoin style) — the exact-at-scale alternative to LSH
    banding, shared by the ``dedup_prefix_filter`` registry key and
    ``api.curate_corpus(dedup="exact")``. Two docs with J >= t MUST
    share a token within their first |s|-ceil(t|s|)+1 tokens under a
    consistent global rarest-first order, so the candidate join
    touches only those prefix tokens (the rarest ones — tiny document
    frequency), never the full inverted index. Candidates are then
    verified with the exact distinct-token Jaccard. Returns (doc1,
    doc2, jaccard) with doc1 < doc2 (ids ordered by ``id_col``'s own
    ordering). Tokenization matches the oracle family:
    ``array_distinct(split(text, ' '))``."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    d = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.split(text_col, " ")).alias("toks"),
    ).cache()
    tok = d.select("__id", F.size("toks").alias("sz"), F.explode("toks").alias("token"))
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("__id").orderBy("df", "token")
    prefix = (
        tok.join(F.broadcast(dfreq), "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= F.col("sz") - F.ceil(threshold * F.col("sz")) + 1)
        .select("__id", "sz", "rnk", "token")
    )
    # PPJoin length + positional filters (r12 optimization; Xiao et
    # al.'s classic pruning rules, applied INSIDE the candidate join):
    # J(a,b) >= t forces |b| within [t|a|, |a|/t] (length filter), and
    # a prefix collision at positions (p_a, p_b) caps the achievable
    # overlap at 1 + min(|a|-p_a, |b|-p_b), which must reach the
    # required overlap t(|a|+|b|)/(1+t) (positional filter). Both are
    # PROVABLY candidate-safe for the threshold — and the exact verify
    # below re-checks every survivor anyway, so pruning can only drop
    # pairs that would fail verification; the EPS slack keeps float
    # boundary cases on the candidate side (extra candidates are
    # harmless, lost ones are not). Measured on the sf0.1 curate
    # survivors (template-heavy, t=0.95): raw candidates 2.60M ->
    # 533k, pairs stage 2.97 s -> 1.35 s, output identical.
    eps = 1e-9
    a, b = prefix.alias("a"), prefix.alias("b")
    len_ok = (
        F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
        >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz")).cast("double") - eps
    )
    required_overlap = (
        threshold * (F.col("a.sz") + F.col("b.sz")).cast("double") / (1.0 + threshold)
        - eps
    )
    overlap_ub = (
        1 + F.least(F.col("a.sz") - F.col("a.rnk"), F.col("b.sz") - F.col("b.rnk"))
    ).cast("double")
    cands = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.__id") < F.col("b.__id"))
            & len_ok
            & (overlap_ub >= required_overlap),
        )
        .select(F.col("a.__id").alias("doc1"), F.col("b.__id").alias("doc2"))
        .distinct()
        # the explicit repartition after the distinct is LOAD-BEARING:
        # the candidate table is ~16 bytes/row, so AQE's post-shuffle
        # coalescing can drop below session parallelism and serialize
        # the array_intersect verify (measured 22 s vs ~1.5 s on the
        # sf0.1 curate survivors when left to coalesce)
        .repartition(spark.sparkContext.defaultParallelism, "doc1", "doc2")
    )
    t1 = d.select(F.col("__id").alias("doc1"), F.col("toks").alias("toks1"))
    t2 = d.select(F.col("__id").alias("doc2"), F.col("toks").alias("toks2"))
    # Same single-evaluation barrier as minhash_pairs (r13, guide §4.4
    # posture for JVM expressions): without it the threshold filter is
    # pushed into the join and ``array_intersect`` runs twice per
    # candidate. ``+ rand()*0.0`` is exactly +0.0 on these non-negative
    # sizes (bit-identical jaccard) but marks the projection
    # nondeterministic so the optimizer cannot duplicate it.
    common_once = (
        F.size(F.array_intersect("toks1", "toks2")).cast("double")
        + F.rand() * F.lit(0.0)
    )
    return (
        cands.join(F.broadcast(t1), "doc1")
        .join(F.broadcast(t2), "doc2")
        .withColumn("common", common_once)
        .withColumn(
            "jaccard",
            F.col("common")
            / ((F.size("toks1") + F.size("toks2")).cast("double") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


@register("dedup_prefix_filter", oracle=_PREFIX_SQL, tags=("K2c",))
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-join via prefix filtering (AllPairs/PPJoin style)
    — the parameterized ``exact_jaccard_pairs`` kernel over the
    fixture. The oracle is the all-pairs exact join, so any pruning
    mistake fails the value-hash, making this the strongest
    correctness check of the family."""
    d = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PREFIX_SLICE
    )
    return exact_jaccard_pairs(d, "doc_id", "text", PREFIX_T).orderBy(
        "doc1", "doc2"
    )


_CLUSTER_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 200
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / CAST(len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
), sym AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION SELECT d2, d1 FROM pairs
), reach AS (
  SELECT doc_id AS node, doc_id AS label FROM t
  UNION
  SELECT s.dst AS node, r.label
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.label < s.dst
), comp AS (
  SELECT node AS doc_id, min(label) AS canonical_doc_id
  FROM reach GROUP BY node
)
SELECT doc_id, canonical_doc_id,
       count(*) OVER (PARTITION BY canonical_doc_id) AS cluster_size,
       (doc_id = canonical_doc_id) AS is_canonical
FROM comp
ORDER BY doc_id
"""


@register("dedup_cluster_canonical", oracle=_CLUSTER_SQL, tags=("ext", "M62"))
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the exact
    Jaccard >= 0.8 pair graph (same kernel and doc_id<200 scope as
    ``dedup_jaccard_pairs``), each doc mapped to its cluster's min
    doc_id as the canonical representative — the "keep one per
    near-dup group" step a training-data pipeline actually runs after
    pair finding (transitive closure matters: A~B, B~C puts A and C in
    one cluster even when A!~C).

    Composition showcase: the dedup pair kernel feeds the engine's own
    Pregel connected-components loop. At 100 TB the pair graph (from
    the MinHash path, K3) is vastly smaller than the corpus, so the
    iterative part runs on the reduced edge set only. Oracle is a
    recursive-CTE min-label propagation — fully SQL-checkable.
    """
    from ezbake_graph_spark.graph.pregel import connected_components

    tok = _doc_tokens(spark, sf_dir, max_doc=200)
    pairs = (
        _jaccard_pairs(tok)
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    )
    verts = tok.select(F.col("doc_id").alias("id")).distinct()
    comp = connected_components(verts, pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_doc_id")
    )
    w = Window.partitionBy("canonical_doc_id")
    return (
        comp.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical", F.col("doc_id") == F.col("canonical_doc_id")
        )
        .orderBy("doc_id")
    )


_MINHASH_SIG_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), seeds AS (
  SELECT unnest(range(0, 8)) AS seed
)
SELECT doc_id, CAST(seed AS INT) AS seed,
       min(('0x' || substr(md5(token || '#' || CAST(seed AS VARCHAR)), 1, 8))::BIGINT)
           AS minhash
FROM tok CROSS JOIN seeds
GROUP BY doc_id, seed
ORDER BY doc_id, seed
"""


@register("dedup_minhash_signature", oracle=_MINHASH_SIG_SQL, tags=("K3b", "M121"))
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-exact MinHash signatures (K3b): the same min-over-
    hashed-tokens kernel as K3's LSH, but built on md5 — computable
    bit-identically in DuckDB — so the signature STAGE of the near-dup
    ladder gets a full value-hash oracle (K3 itself hashes with Spark's
    xxhash64 and is necessarily rows-only, SURVEY §5.3 rule 5; this key
    pins the algebra: per (doc, seed), min of a keyed token hash).

    Plan: explode distinct tokens, broadcast-free 8x fan-out on a tiny
    literal seed array, one keyed agg (doc_id, seed) with map-side
    min combine — one shuffle of (doc, seed, long) rows. At 100 TB the
    fan-out factor is the signature width, constant, and the agg state
    is one long per (doc, seed): the textbook linear-pass signature
    build. md5-per-token is ~3x xxhash64 cost — acceptable here because
    this key's purpose is cross-engine verifiability; the production
    path (K3) keeps the cheaper hash."""
    tok = _doc_tokens(spark, sf_dir)
    seeds = F.array(*[F.lit(i) for i in range(8)])
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("token"), F.lit("#"), F.col("seed").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        tok.select("doc_id", "token", F.explode(seeds).alias("seed"))
        .groupBy("doc_id", "seed")
        .agg(F.min(h).alias("minhash"))
        .orderBy("doc_id", "seed")
    )


_FUZZY_SQL = """
WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer)
SELECT a.c_custkey AS cust1, b.c_custkey AS cust2,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
FROM c a JOIN c b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY cust1, cust2
"""


@register("dedup_fuzzy_names", oracle=_FUZZY_SQL, tags=("K-extra", "M130"))
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching (K-extra): near-duplicate customer
    names by edit distance — the record-linkage primitive (same person,
    typo'd name) that complements token-set dedup (K2) with
    character-level similarity.

    The scale story is the BLOCKING: candidate pairs come from an
    equi-join on the blocking key (nation here; first-k-chars +
    length-bucket in production), so levenshtein — O(len^2) per pair,
    JVM codegen but not cheap — runs on |block|^2/2 pairs, never
    all-pairs. Identical integer distances in both engines; threshold
    <=1 keeps names differing by a single typo."""
    c = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    a, b = c.alias("a"), c.alias("b")
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("cust1"),
            F.col("b.c_custkey").alias("cust2"),
            dist.cast("int").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 1)
        .orderBy("cust1", "cust2")
    )


_CONTAIN_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE doc_id < 200
), size_ AS (
  SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc1, i.doc2,
       CAST(i.n_common AS DOUBLE) / s1.n_tok AS containment
FROM inter i
JOIN size_ s1 ON i.doc1 = s1.doc_id
WHERE CAST(i.n_common AS DOUBLE) / s1.n_tok >= 0.9
ORDER BY doc1, doc2
"""


@register("dedup_containment", oracle=_CONTAIN_SQL, tags=("K-extra", "M131"))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (K-extra): |A∩B| / |A| >= 0.9 —
    catches SUB-document duplication (doc A embedded in longer doc B)
    that symmetric Jaccard (K2) under-scores, the quote/boilerplate
    case in pretraining dedup. Directed: (doc1 ⊂ doc2) and (doc2 ⊂
    doc1) are separate rows.

    Same inverted-index shape as K2 — token-keyed equi-join produces
    co-occurrence counts, so the shuffle is keyed and the quadratic
    blowup is bounded by posting-list lengths (stop-token capping is
    the production lever). The ratio is ONE IEEE division of exact
    ints — bit-identical, no rounding needed. Declared on the same
    bounded slice as K2: the exact kernel is the oracle for the banded
    approximations (K3/M121), not the 100 TB path itself."""
    tok = _doc_tokens(spark, sf_dir, max_doc=200)
    size = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(F.broadcast(size.withColumnRenamed("doc_id", "doc1")), "doc1")
        .select(
            "doc1",
            "doc2",
            (F.col("n_common").cast("double") / F.col("n_tok")).alias("containment"),
        )
        .filter(F.col("containment") >= 0.9)
        .orderBy("doc1", "doc2")
    )


SPAN_K = 8  # shingle width (tokens) for substring-level dedup

_SPAN_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i : i+{SPAN_K}-1], ' ') AS shingle
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - {SPAN_K} + 1)) AS i) u
),
dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shingle)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {SPAN_K}
              THEN 0 ELSE 1 END AS b
  FROM hits
),
grp AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk)
SELECT doc_id, min(pos) AS span_start, max(pos) + {SPAN_K} - 1 AS span_end,
       max(pos) + {SPAN_K} - min(pos) AS span_tokens
FROM grp GROUP BY doc_id, g
ORDER BY doc_id, span_start
"""


def duplicated_spans(d: DataFrame, span_k: int = SPAN_K) -> DataFrame:
    """Maximal cross-document duplicated token spans over a
    (doc_id, toks array<string>) table. Returns (doc_id, span_start,
    span_end, span_tokens), positions 1-based. The distributable
    kernel behind ``dedup_substring_spans`` / ``dedup_cut_spans``."""
    sh = d.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= span_k,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - span_k + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, span_k))).alias(
                            "dig"
                        ),
                    ),
                ),
            ).otherwise(F.array())
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.dig").alias("dig"))
    dup = (
        sh.groupBy("dig")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("dig")
    )
    hits = sh.join(dup, "dig").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = hits.withColumn(
        "b",
        F.when(F.col("pos") - F.lag("pos").over(w) <= span_k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    grp = brk.withColumn("g", F.sum("b").over(w))
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + span_k - 1).alias("span_end"),
            (F.max("pos") + span_k - F.min("pos")).alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
        )


@register("dedup_substring_spans", oracle=_SPAN_SQL, tags=("ext", "M159"))
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (the Lee-et-al.-2021 'Deduplicating
    Training Data' semantics, public arXiv:2107.06499): report every
    MAXIMAL token span of length >= SPAN_K that also appears in at
    least one OTHER document — the spans a pretraining pipeline would
    cut out of the text rather than dropping whole documents.

    Plan shape (suffix arrays do not distribute; the shingle inverted
    index is the Spark-native equivalent):
    1. Map-side: tokens array -> positioned SPAN_K-gram shingles via
       transform(sequence(...)) + explode — no shuffle, and only the
       md5 digest of each shingle leaves the mapper (32-byte key, not
       the text), so the shuffle moves digests.
    2. One keyed aggregation marks digests seen in >= 2 distinct docs
       (count-distinct over a 2-level partial agg).
    3. One keyed equi-join brings hit positions back (digest-keyed:
       posting-list bounded, never all-pairs).
    4. Gaps-and-islands per doc merges hits whose starts are within
       SPAN_K tokens into maximal spans (two windows + one groupBy,
       all partitioned by doc_id).
    At 100 TB every stage is keyed on digest or doc_id; the known skew
    lever is capping stop-shingle posting lists (same lever as K2).
    DuckDB oracle joins on the shingle STRING — identical output
    modulo md5 collision (2^-64; acceptable for a digest join and the
    standard trade at scale). Positions are 1-based in both engines
    (DuckDB 1-based list slicing == Spark 1-based slice())."""
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return duplicated_spans(d).orderBy("doc_id", "span_start")


def cut_spans(d: DataFrame, span_k: int = SPAN_K) -> DataFrame:
    """Shared span-cut kernel (the body of ``dedup_cut_spans`` and
    ``api.cut_duplicated_spans`` — single source so the two surfaces
    cannot drift; ADVICE r7): given (doc_id, toks array<string>),
    remove every cross-document duplicated span of >= ``span_k``
    tokens and return (doc_id, clean_text, n_tokens_cut), unordered.

    Plan: the span kernel (see dedup_substring_spans) + one
    doc_id-keyed LEFT ANTI range join (equi on doc_id, pos-between
    residual — sort-merge on the doc key, never cartesian) + one
    doc-keyed rebuild (sort_array over collected (pos, tok) structs).
    All shuffles keyed on digest or doc_id."""
    spans = duplicated_spans(d, span_k).select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    tok = d.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok.join(
        spans,
        (F.col("doc_id") == F.col("s_doc"))
        & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x.getField("tok"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        d.select("doc_id", F.size("toks").alias("n_toks"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_toks") - F.coalesce("n_kept", F.lit(0))).alias("n_tokens_cut"),
        )
    )


_CUT_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i : i+{SPAN_K}-1], ' ') AS shingle
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - {SPAN_K} + 1)) AS i) u
),
dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shingle)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {SPAN_K}
              THEN 0 ELSE 1 END AS b
  FROM hits
),
grp AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SPAN_K} - 1 AS e
  FROM grp GROUP BY doc_id, g
),
tok AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)
)
SELECT d.doc_id,
       coalesce((SELECT string_agg(k.tok, ' ' ORDER BY k.pos)
                 FROM kept k WHERE k.doc_id = d.doc_id), '') AS clean_text,
       len(d.toks) - coalesce((SELECT count(*) FROM kept k
                               WHERE k.doc_id = d.doc_id), 0) AS n_tokens_cut
FROM d
ORDER BY d.doc_id
"""


@register("dedup_cut_spans", oracle=_CUT_SQL, tags=("ext", "M166", "bench2"))
def dedup_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation step behind ``dedup_substring_spans``: REMOVE
    every cross-document duplicated span from the text (the
    substring-level alternative to dropping whole documents; declared
    semantics cut ALL occurrences — keep-one-copy needs a global
    occurrence order and is a policy layered on top). Returns every
    doc with (clean_text, n_tokens_cut); a fully-duplicated doc comes
    back with empty text, ready for a length gate.

    Declared on the shared ``cut_spans`` kernel (plan shape documented
    there)."""
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return cut_spans(d).orderBy("doc_id")


def semdedup(
    assigned: DataFrame, cent: DataFrame, tau: float
) -> DataFrame:
    """SemDeDup (public: Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): semantic
    near-duplicate removal over an embedding corpus, with the paper's
    scale trick — pairwise cosine is computed only WITHIN coarse
    clusters, never across the whole corpus.

    ``assigned``: (vec_id, v, nrm, cell) — vectors already quantized
    to a coarse cell (the IVF assignment kernel); ``cent``: (cell,
    cv, cn) centroids. Pipeline: (1) per-member cosine to its own
    cell centroid (broadcast join, map-side); (2) within-cell pair
    graph at cosine >= ``tau`` — a self-join CO-PARTITIONED on cell,
    so the shuffle is one exchange and the quadratic term is bounded
    by cluster size (n/k), exactly the paper's complexity argument;
    (3) connected components over the dup-pair graph (the engine's
    Pregel loop, running on the reduced edge set only); (4) keep rule:
    per semantic-dup group keep the member LEAST similar to its
    centroid (the paper's diversity-keep; ties broken by min vec_id).

    Returns (vec_id, cell, group_id, centroid_sim, group_size, keep).
    Cross-cell near-dups are the documented approximation miss (the
    paper accepts them; raise k-probe clustering quality, not pair
    scope, to shrink the miss rate). Zero-norm vectors have no defined
    cosine and pass through as singleton groups.
    """
    from ezbake_graph_spark.graph.pregel import connected_components
    from ezbake_graph_spark.operators.llm_similarity import _cosine

    member = assigned.join(F.broadcast(cent), "cell").select(
        "vec_id",
        "v",
        "nrm",
        "cell",
        F.round(
            _cosine(F.col("v"), F.col("nrm"), F.col("cv"), F.col("cn")), 6
        ).alias("centroid_sim"),
    )
    a = member.select(
        "cell",
        F.col("vec_id").alias("vid1"),
        F.col("v").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    b = member.select(
        "cell",
        F.col("vec_id").alias("vid2"),
        F.col("v").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vid1") < F.col("vid2"))
        .select(
            F.col("vid1").alias("src"),
            F.col("vid2").alias("dst"),
            F.round(
                _cosine(F.col("v1"), F.col("n1"), F.col("v2"), F.col("n2")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
        .select("src", "dst")
    )
    verts = assigned.select(F.col("vec_id").alias("id"))
    comp = connected_components(verts, pairs).select(
        F.col("id").alias("vec_id"), F.col("component").alias("group_id")
    )
    grouped = member.select("vec_id", "cell", "centroid_sim").join(
        comp, "vec_id"
    )
    w_grp = Window.partitionBy("group_id")
    w_keep = Window.partitionBy("group_id").orderBy(
        F.col("centroid_sim").asc_nulls_last(), F.col("vec_id")
    )
    return (
        grouped.withColumn("group_size", F.count(F.lit(1)).over(w_grp))
        .withColumn("rn", F.row_number().over(w_keep))
        .select(
            "vec_id",
            "cell",
            "group_id",
            "centroid_sim",
            "group_size",
            (F.col("rn") == 1).alias("keep"),
        )
    )


@register("dedup_semdedup", oracle=None, tags=("ext", "ml", "rows-only", "bench2"))
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup composite (``semdedup`` kernel): cluster the
    embedding corpus into the 10 label-centroid cells (the same
    deterministic coarse quantizer ``sim_ivf`` uses), find semantic
    near-dup groups at cosine >= 0.4 (the ``dedup_embedding``
    threshold, so the exact pair kernel doubles as this key's recall
    oracle in tests), and keep one diverse representative per group.

    Rows-only by design: centroid averages are float-order-dependent
    (SURVEY §5.3 rule 5). Pinned in tests/test_llm.py instead:
    within-cell recall vs the exact hash-green pair kernel, the
    no-surviving-dup-pair invariant, and the one-keep-per-group rule.
    """
    from ezbake_graph_spark.operators.llm_similarity import (
        _vectors,
        assign_nearest_cell,
        cell_centroids,
    )

    vecs = _vectors(spark, sf_dir).cache()
    cent = cell_centroids(vecs, "label")
    # cache: the kernel reads the assignment from three plans (both
    # self-join sides + the vertex set); without this the argmin
    # window behind assign_nearest_cell recomputes each time
    assigned = assign_nearest_cell(vecs, cent).cache()
    return semdedup(assigned, cent, EMBED_DUP_THRESHOLD).orderBy("vec_id")


_CONTRASTIVE_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 200
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(a.toks) + len(b.toks)
                      - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 6)
           AS jac
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / CAST(len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
), sym AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION SELECT d2, d1 FROM pairs
), reach AS (
  SELECT doc_id AS node, doc_id AS label FROM t
  UNION
  SELECT s.dst AS node, r.label
  FROM reach r JOIN sym s ON s.src = r.node
  WHERE r.label < s.dst
), comp AS (
  SELECT node AS doc_id, min(label) AS cluster_id
  FROM reach GROUP BY node
)
SELECT p.d1 AS anchor, p.d2 AS positive, p.jac AS jaccard,
       c.cluster_id, CAST(c.cluster_id % 8 AS BIGINT) AS batch_id
FROM pairs p JOIN comp c ON p.d1 = c.doc_id
ORDER BY anchor, positive
"""


@register(
    "text_contrastive_pairs", oracle=_CONTRASTIVE_SQL, tags=("ext", "ml")
)
def text_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: (anchor, positive) pairs from
    the exact near-dup graph (Jaccard >= 0.8, the K2 kernel and scope),
    with a CLUSTER-COHERENT batch assignment — the input format for
    in-batch-negative contrastive embedding training (SimCLR/CLIP-style
    data loaders).

    The batch id is the pair's dup-cluster canonical id mod 8, so a
    cluster's pairs always land in ONE batch. That makes in-batch
    negatives sound by construction: two docs in DIFFERENT components
    of the >=0.8 pair graph can never themselves be a >=0.8 pair
    (an edge would have merged their components), so every cross-pair
    doc inside a batch is a true negative. Production would salt very
    large clusters across batches after canonical-capping them
    (dedup_cluster_canonical) — noted, not fixture-relevant.

    Scale: pair kernel = inverted-index join (never all-pairs);
    components run on the reduced pair graph (Pregel); the batch
    assignment is a map-side mod. One extra broadcast-size join from
    pairs to their component labels.
    """
    from ezbake_graph_spark.graph.pregel import connected_components

    tok = _doc_tokens(spark, sf_dir, max_doc=200)
    pairs = _jaccard_pairs(tok).filter(
        F.col("jaccard_raw") >= JACCARD_THRESHOLD
    )
    verts = tok.select(F.col("doc_id").alias("id")).distinct()
    comp = connected_components(
        verts,
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")),
    ).select(
        F.col("id").alias("doc1"), F.col("component").alias("cluster_id")
    )
    return (
        pairs.join(comp, "doc1")
        .select(
            F.col("doc1").alias("anchor"),
            F.col("doc2").alias("positive"),
            F.round("jaccard_raw", 6).alias("jaccard"),
            "cluster_id",
            (F.col("cluster_id") % 8).cast("long").alias("batch_id"),
        )
        .orderBy("anchor", "positive")
    )


# ---------------------------------------------------------------------------
# Entity resolution composite (VERDICT r8 #3): blocking -> multi-signal
# pair evidence -> Pregel WCC canonicalization -> survivorship, with
# full per-record provenance. The record-linkage twin of curate_corpus:
# every stage is individually oracled elsewhere (dedup_fuzzy_names'
# blocked levenshtein, dedup_cluster_canonical's WCC canonical), this
# key certifies the SEAMS cross-engine.
# ---------------------------------------------------------------------------

ER_NAME_DIST = 1  # direct match: edit distance <= 1 alone suffices
ER_WEAK_DIST = 2  # weak match: distance 2 needs a corroborating signal
# Signature-domain bound (ADVICE r10): signatures are generated from
# the first ER_SIG_PREFIX characters only. Without it a single
# adversarially long name (resolve_entities is a public API) inflates
# the explode quadratically — 256 chars -> ~33k signatures per record;
# with it the per-record signature count is capped at 1 + P + P(P-1)/2
# = 529. SymSpell-style recall note: for names where BOTH sides are
# <= ER_SIG_PREFIX chars the scheme stays provably lossless (prefix ==
# full name); when a side exceeds the prefix, a distance-2 match whose
# edits straddle the prefix boundary can be missed. Every fixture/
# oracle name is < 32 chars, so the committed keys are unaffected.
ER_SIG_PREFIX = 32

# public-API input contract for resolve_entities / _append (r12
# hardening: checked at the boundary so a missing column raises a
# ValueError naming the contract, not an AnalysisException from the
# middle of the signature explode)
_ER_COLUMNS = frozenset({"rec_id", "name", "block", "segment", "val"})


def _deletion_sigs(name: str = "name", k: int = ER_WEAK_DIST):
    """``array<bigint>`` of xxhash64 signatures of every variant of
    ``name`` obtainable by deleting up to ``k`` (=2) characters — the
    symmetric-delete (SymSpell) candidate signature. LOSSLESS for the
    match rule: if ``levenshtein(a, b) <= 2`` then deleting the edited
    positions from each side reaches a common string, so a and b share
    at least one signature (each edit op costs at most one deletion on
    each side). Sharing a signature is NOT sufficient (it implies only
    ed <= 4), so candidates are still levenshtein-verified.

    Built entirely from codegen'd SQL collection functions (sequence/
    transform/flatten/substring/xxhash64) — no UDF, no shuffle; ~1 +
    L + L(L-1)/2 signatures per record (172 at L=18), generated
    map-side and exploded into the candidate join. Variants are hashed
    so the shuffle carries 8-byte keys instead of strings; a hash
    collision can only ADD a candidate (removed by the verify stage),
    never lose one. Assumes ``k == 2`` (the d1/d2 expansions below are
    written for exactly two deletion levels). The variant source is
    the ER_SIG_PREFIX-char prefix, bounding the signature count for
    adversarially long names (see ER_SIG_PREFIX note); the levenshtein
    verify always runs on the FULL name, so precision is unaffected."""
    if k != 2:
        raise ValueError(f"deletion-signature expansion is written for k=2, got {k}")
    s = f"substring({name}, 1, {ER_SIG_PREFIX})"
    d1 = (
        f"transform(sequence(1, length({s})), i -> "
        f"concat(substring({s}, 1, i-1), substring({s}, i+1, length({s}))))"
    )
    d2 = (
        f"flatten(transform(sequence(1, length({s}) - 1), i -> "
        f"transform(sequence(i + 1, length({s})), j -> "
        f"concat(substring({s}, 1, i-1), substring({s}, i+1, j-i-1), "
        f"substring({s}, j+1, length({s}))))))"
    )
    return F.expr(
        f"transform(CASE WHEN length({s}) >= 2 "
        f"THEN concat(array({s}), {d1}, {d2}) "
        f"WHEN length({s}) = 1 THEN concat(array({s}), {d1}) "
        f"ELSE array({s}) END, v -> xxhash64(v))"
    )


def _deletion_sig_rows(
    records: DataFrame, extra_cols: list[str], name: str = "name"
) -> DataFrame:
    """Exploded ``(rec_id, block, *extra_cols, sig)`` deletion-signature
    rows — the join-ready form of ``_deletion_sigs`` (r12 optimization).

    Same variant algebra — identity, every 1-deletion, every
    2-deletion of the ER_SIG_PREFIX-char prefix — but built as two
    chained ``explode(sequence(...))`` GENERATORS plus one flat
    ``substring``/``concat``/``xxhash64`` projection, which all run
    inside WholeStageCodegen. The nested ``transform`` lambdas in
    ``_deletion_sigs`` are INTERPRETED per element (Catalyst
    higher-order functions do not codegen — the same hazard the r10
    ``filter_repetition`` rewrite measured), and building the ~529-slot
    variant array dominated the whole candidate stage (measured sf0.1:
    signature pass 4.2 s -> 1.2 s, candidate stage 4.7 s -> 2.1 s).

    Unlike the array form this emits duplicate (rec, sig) rows when
    deleting different positions of a repeated character yields the
    same variant (~1.8x at sf0.1). Duplicates add join multiplicity
    only — the candidate set after the pair ``distinct`` is IDENTICAL
    (pinned by test_deletion_signature_blocking_is_lossless, which
    exhaustively checks the lev<=2 superset guarantee on edge cases
    including empty and length-1 names, and by the unchanged
    recursive-CTE oracle of both registered ER keys).

    Deletion-position enumeration: i = 0 is the identity variant;
    (i, 0) for 1 <= i <= L deletes position i; (i, j) for
    1 <= i < j <= L deletes both — exactly the d1/d2 expansion above.

    ``name`` parameterizes the signature source column (ADVICE r12:
    the array form it replaced was parameterized); the ``rec_id`` and
    ``block`` key columns ARE a fixed schema contract of the ER kernel
    (callers rename at the boundary, as both registered keys do).
    """
    s_expr = f"substring({name}, 1, {ER_SIG_PREFIX})"
    return (
        records.select("rec_id", "block", *extra_cols, F.expr(s_expr).alias("_s"))
        .select(
            "rec_id", "block", *extra_cols, "_s",
            F.explode(F.expr("sequence(0, length(_s))")).alias("_i"),
        )
        .select(
            "rec_id", "block", *extra_cols, "_s", "_i",
            F.explode(
                F.expr(
                    "CASE WHEN _i = 0 OR _i >= length(_s) THEN array(0) "
                    "ELSE concat(array(0), sequence(_i + 1, length(_s))) END"
                )
            ).alias("_j"),
        )
        .select(
            "rec_id",
            "block",
            *extra_cols,
            F.xxhash64(
                F.expr(
                    "CASE WHEN _i = 0 THEN _s "
                    "WHEN _j = 0 THEN concat(substring(_s, 1, _i - 1), "
                    "substring(_s, _i + 1, length(_s))) "
                    "ELSE concat(substring(_s, 1, _i - 1), "
                    "substring(_s, _i + 1, _j - _i - 1), "
                    "substring(_s, _j + 1, length(_s))) END"
                )
            ).alias("sig"),
        )
    )


def _er_candidate_pairs(records: DataFrame, new_only: bool = False) -> DataFrame:
    """Candidate (src, dst) id pairs for the ER match rule: pairs of
    records sharing (block, deletion-signature). Replaces the original
    block-only self-join whose within-block pair count grew
    QUADRATICALLY with the corpus (the nation key has fixed cardinality
    25, so block size tracks corpus size — VERDICT r9 #4, measured
    x4/x1 = 10.6x): signature buckets are keyed by string CONTENT, so
    bucket sizes track true-neighbor density, not corpus size, and the
    levenshtein verify runs on |candidates| ~ |true pairs|, never
    |block|^2/2.

    ``new_only``: restrict the LEFT side to rows flagged ``is_new``
    (the append path — new x all, normalized src<dst), else the
    asymmetric batch self-join (src < dst). Output is distinct: a pair
    sharing several signatures (or seen from both sides) emits once.
    """
    # NULL names can never satisfy the match rule (levenshtein with a
    # NULL side is NULL on both engines), yet they all hash to the one
    # xxhash64(NULL) signature — |nulls|^2 candidates per block that
    # the verify stage would only discard later (ADVICE r10). Drop
    # them before the explode; they surface as singletons via the
    # provenance left-join like any other matchless record.
    sigs = _deletion_sig_rows(
        records.filter(F.col("name").isNotNull()),
        ["is_new"] if new_only else [],
    )
    # shuffle_hash (r12 optimization, guide §3.1): the planner's size
    # estimate for the exploded sig table is far under its real ~2.6M
    # rows at sf0.1, so it picked a BroadcastHashJoin that built a
    # multi-million-row hash relation on the driver AND evaluated the
    # deletion-sig explode once per side. As a shuffled hash join on
    # the 12-byte (block, sig) key, the two sides are identical
    # exchanges — ReusedExchange computes the explode ONCE — and no
    # corpus-sized broadcast exists (measured sf0.1: candidate stage
    # 12.4 -> 4.8 s, identical candidate set).
    a = (sigs.filter("is_new") if new_only else sigs).hint("shuffle_hash").alias("a")
    b = sigs.hint("shuffle_hash").alias("b")
    ids = (F.col("a.rec_id") != F.col("b.rec_id")) if new_only else (
        F.col("a.rec_id") < F.col("b.rec_id")
    )
    pair = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.sig") == F.col("b.sig"))
        & ids,
    )
    return pair.select(
        F.least(F.col("a.rec_id"), F.col("b.rec_id")).alias("src"),
        F.greatest(F.col("a.rec_id"), F.col("b.rec_id")).alias("dst"),
    ).distinct()


def resolve_entities(records: DataFrame) -> DataFrame:
    """Entity resolution over a ``(rec_id, name, block, segment, val)``
    record table: block -> match -> cluster -> survive.

    1. **Blocking**: candidate pairs share (``block``, a symmetric-
       delete signature) — every variant of the name with up to
       ER_WEAK_DIST characters deleted (``_deletion_sigs``), which is
       provably lossless for the levenshtein <= 2 rule. Signature
       buckets are keyed by string content, so candidate counts track
       true-neighbor density, not corpus size — the fix for the
       block-only join whose 25-value nation key made within-block
       pair work quadratic in the corpus (VERDICT r9 #4, x4 curve
       10.6x). The O(len^2) levenshtein verify runs on |candidates|
       ~ |true pairs|, never |block|^2/2.
    2. **Match rule** (multi-signal, integer-deterministic): edit
       distance <= ER_NAME_DIST alone, OR <= ER_WEAK_DIST with the
       corroborating ``segment`` equality — the classic strong-
       evidence / weak-evidence-plus-agreement ladder.
    3. **Clustering**: Pregel min-label WCC over the match pairs ONLY
       (singletons never enter the loop; they keep themselves by a
       left-join coalesce) — transitive closure, so A~B, B~C links
       A and C even when A!~C.
    4. **Survivorship**: ``entity_id`` = min rec_id of the cluster;
       ``golden_name`` = the canonical record's name; ``golden_value``
       = max ``val`` across the cluster (pick-the-max rule — an exact
       selection of an existing value, no float arithmetic).

    Output: one row per INPUT record (full provenance, mirroring
    ``curate_corpus``): (rec_id, entity_id, cluster_size,
    is_canonical, n_matches, golden_name, golden_value), where
    n_matches is the record's match-pair degree (0 for singletons).
    """
    from ezbake_graph_spark.graph.pregel import connected_components

    missing = _ER_COLUMNS - set(records.columns)
    if missing:
        # r12 hardening: surface the contract at the API boundary —
        # without this the first missing column dies as an
        # AnalysisException deep inside the signature explode
        raise ValueError(
            f"resolve_entities needs columns {sorted(_ER_COLUMNS)}; "
            f"missing {sorted(missing)}"
        )
    r = records.select("rec_id", "name", "block", "segment", "val")
    # Candidate generation: signature-bucketed join (deletion
    # neighborhoods), shuffled on the 8-byte (block, sig) key across
    # spark.sql.shuffle.partitions — parallelism comes from the
    # signature shuffle, so no explicit repartition is needed (the
    # old block-only self-join ran at scan parallelism without one).
    cand = _er_candidate_pairs(r)
    lhs = r.select(
        F.col("rec_id").alias("src"),
        F.col("name").alias("name_a"),
        F.col("segment").alias("seg_a"),
    )
    rhs = r.select(
        F.col("rec_id").alias("dst"),
        F.col("name").alias("name_b"),
        F.col("segment").alias("seg_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    pairs = (
        cand.join(lhs, "src")
        .join(rhs, "dst")
        .select(
            "src",
            "dst",
            dist.cast("int").alias("name_dist"),
            (F.col("seg_a") == F.col("seg_b")).alias("same_segment"),
        )
        .filter(
            (F.col("name_dist") <= ER_NAME_DIST)
            | ((F.col("name_dist") <= ER_WEAK_DIST) & F.col("same_segment"))
        )
        .select("src", "dst")
        # The match-pair set is consumed three times downstream (WCC
        # edges, vertex set, degree); checkpoint it so the candidate
        # join + levenshtein verify run ONCE. Pairs are tiny relative
        # to the corpus — that asymmetry is the whole point of
        # blocking.
        .localCheckpoint()
    )
    sym = pairs.union(pairs.select(F.col("dst"), F.col("src")))
    verts = sym.select(F.col("src").alias("id")).distinct()
    comp = connected_components(verts, pairs).select(
        F.col("id").alias("rec_id"), F.col("component").alias("entity_id")
    )
    deg = sym.groupBy(F.col("src").alias("rec_id")).agg(
        F.count(F.lit(1)).alias("n_matches")
    )
    ent = (
        r.join(comp, "rec_id", "left")
        .join(deg, "rec_id", "left")
        .select(
            "rec_id",
            F.coalesce(F.col("entity_id"), F.col("rec_id")).alias("entity_id"),
            "name",
            "val",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("long")).alias(
                "n_matches"
            ),
        )
    )
    w = Window.partitionBy("entity_id")
    is_canon = F.col("rec_id") == F.col("entity_id")
    return (
        ent.select(
            "rec_id",
            "entity_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            is_canon.alias("is_canonical"),
            "n_matches",
            F.max(F.when(is_canon, F.col("name"))).over(w).alias("golden_name"),
            F.max("val").over(w).alias("golden_value"),
        )
        .orderBy("rec_id")
    )


_RESOLVE_SQL = f"""
WITH RECURSIVE r AS (
  SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS block,
         c_mktsegment AS segment, c_acctbal AS val
  FROM customer
), pairs AS (
  SELECT a.rec_id AS src, b.rec_id AS dst
  FROM r a JOIN r b ON a.block = b.block AND a.rec_id < b.rec_id
  WHERE levenshtein(a.name, b.name) <= {ER_NAME_DIST}
     OR (levenshtein(a.name, b.name) <= {ER_WEAK_DIST}
         AND a.segment = b.segment)
), sym AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
), nodes AS (SELECT DISTINCT src AS node FROM sym),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT s.dst AS node, re.label
  FROM reach re JOIN sym s ON s.src = re.node
  WHERE re.label < s.dst
), comp AS (
  SELECT node AS rec_id, min(label) AS entity_id FROM reach GROUP BY node
), deg AS (
  SELECT src AS rec_id, CAST(count(*) AS BIGINT) AS n_matches
  FROM sym GROUP BY src
), ent AS (
  SELECT r.rec_id, coalesce(c.entity_id, r.rec_id) AS entity_id,
         r.name, r.val, coalesce(d.n_matches, 0) AS n_matches
  FROM r LEFT JOIN comp c ON c.rec_id = r.rec_id
         LEFT JOIN deg d ON d.rec_id = r.rec_id
)
SELECT rec_id, entity_id,
       CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS cluster_size,
       (rec_id = entity_id) AS is_canonical,
       n_matches,
       max(CASE WHEN rec_id = entity_id THEN name END)
         OVER (PARTITION BY entity_id) AS golden_name,
       max(val) OVER (PARTITION BY entity_id) AS golden_value
FROM ent
ORDER BY rec_id
"""


@register(
    "dedup_resolve_entities", oracle=_RESOLVE_SQL, tags=("ext", "er", "bench2")
)
def dedup_resolve_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the customer master: nation-blocked
    levenshtein + market-segment corroboration as the match rule,
    Pregel WCC transitive closure, min-custkey canonical with
    golden-record survivorship (``resolve_entities`` verbatim) — the
    most common enterprise use of this kernel family (record linkage:
    same real-world entity, typo'd source records).

    Fixture shape (sf0.01): 2288 match pairs across 25 nation blocks,
    50 multi-record entities (largest 72 records — weak-evidence
    chaining on display, exactly the over-linking transitive closure
    must reproduce), everything else singleton. The oracle is a
    recursive-CTE min-label propagation, fully SQL-checkable."""
    c = tables.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("block"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("val"),
    )
    return resolve_entities(c)


def resolve_entities_append(
    old_records: DataFrame,
    old_resolution: DataFrame,
    new_records: DataFrame,
) -> DataFrame:
    """Incremental entity resolution: fold a NEW batch of records into
    an existing resolution WITHOUT re-matching the old corpus against
    itself — the daily-ingest path (the ER twin of ``sim_ivf_append``'s
    no-retrain contract). Produces EXACTLY what ``resolve_entities``
    over (old ∪ new) would — pinned by the registered key's oracle,
    which IS the full-batch SQL.

    Inputs: ``old_records``/``new_records`` in the
    (rec_id, name, block, segment, val) shape, and ``old_resolution``
    = the prior ``resolve_entities`` output (rec_id, entity_id,
    n_matches, ... — only those three are read).

    Why it's equivalent: old↔old pairs were all examined when the old
    resolution ran (same match rule), so the only NEW evidence is
    pairs touching a new record. Collapsing each old record to its
    entity label turns the incremental graph into (new records ∪
    touched entities) — two old entities can merge only through a new
    bridge record, which appears as a path in exactly that graph; and
    since an entity label IS the min rec_id of its old cluster,
    min-label WCC over the collapsed graph yields the same min the
    full-batch WCC would.

    Scale: the match stage is new x signature-bucket-bounded (never
    old x old, and never block-quadratic);
    the WCC loop runs on the collapsed graph only. The survivorship
    windows at the end re-emit every record for output parity with
    the batch key — a production sink would restrict them to touched
    entities and leave the rest of the table untouched.
    """
    from ezbake_graph_spark.graph.pregel import connected_components

    for label, frame in (("old_records", old_records), ("new_records", new_records)):
        missing = _ER_COLUMNS - set(frame.columns)
        if missing:
            raise ValueError(
                f"resolve_entities_append: {label} needs columns "
                f"{sorted(_ER_COLUMNS)}; missing {sorted(missing)}"
            )
    missing_res = {"rec_id", "entity_id", "n_matches"} - set(old_resolution.columns)
    if missing_res:
        raise ValueError(
            "resolve_entities_append: old_resolution needs columns "
            f"['entity_id', 'n_matches', 'rec_id']; missing {sorted(missing_res)}"
        )
    # Materialize the prior resolution ONCE (r13 optimization, guide
    # §1.2 "don't compute things twice" / §5 localCheckpoint to cut a
    # reused subplan): this function reads ``old_resolution`` four
    # times (edge collapse src/dst, the old-record entity join, the
    # degree fold), and Spark shares no subplans across DataFrame
    # references — when the caller passes a LAZY resolve_entities()
    # plan (as the registered key does), each reference re-ran the
    # whole batch resolution: candidate join + levenshtein + WCC
    # executed ~2x per call (VERDICT r12 #5, measured 11.96 s quiet at
    # sf0.1 vs ~7 s for the batch key alone). Projecting to the three
    # consumed columns first keeps the checkpoint rows narrow; the
    # copy is 3 longs/row even when the caller passes a materialized
    # table.
    old_resolution = old_resolution.select(
        "rec_id", "entity_id", "n_matches"
    ).localCheckpoint(eager=True)
    cols = ["rec_id", "name", "block", "segment", "val"]
    old_r = old_records.select(*cols)
    new_r = new_records.select(*cols)
    all_r = (
        old_r.withColumn("is_new", F.lit(False))
        .unionByName(new_r.withColumn("is_new", F.lit(True)))
        .localCheckpoint(eager=True)
    )
    # Candidate pairs via the same deletion-signature blocking as the
    # batch kernel, restricted to new x all (the helper normalizes
    # src<dst and dedups new-new pairs seen from both sides); then the
    # exact levenshtein verify over candidate ids only.
    cand = _er_candidate_pairs(all_r, new_only=True)
    lhs = all_r.select(
        F.col("rec_id").alias("src"),
        F.col("name").alias("name_a"),
        F.col("segment").alias("seg_a"),
    )
    rhs = all_r.select(
        F.col("rec_id").alias("dst"),
        F.col("name").alias("name_b"),
        F.col("segment").alias("seg_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    raw = (
        cand.join(lhs, "src")
        .join(rhs, "dst")
        .select(
            "src",
            "dst",
            dist.cast("int").alias("name_dist"),
            (F.col("seg_a") == F.col("seg_b")).alias("same_segment"),
        )
        .filter(
            (F.col("name_dist") <= ER_NAME_DIST)
            | ((F.col("name_dist") <= ER_WEAK_DIST) & F.col("same_segment"))
        )
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    # collapse old endpoints to their entity label; new endpoints stay
    ent_src = old_resolution.select(
        F.col("rec_id").alias("src"), F.col("entity_id").alias("e_src")
    )
    ent_dst = old_resolution.select(
        F.col("rec_id").alias("dst"), F.col("entity_id").alias("e_dst")
    )
    edges = (
        raw.join(ent_src, "src", "left")
        .join(ent_dst, "dst", "left")
        .select(
            F.coalesce("e_src", "src").alias("src"),
            F.coalesce("e_dst", "dst").alias("dst"),
        )
    )
    verts = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst"))
    ).distinct()
    comp = connected_components(verts, edges).select(
        F.col("id").alias("node"), F.col("component").alias("merged")
    )
    # final entity per record
    old_ent = old_resolution.select("rec_id", "entity_id")
    old_final = (
        old_r.join(old_ent, "rec_id")
        .join(comp, F.col("entity_id") == F.col("node"), "left")
        .select(
            "rec_id",
            "name",
            "val",
            F.coalesce("merged", "entity_id").alias("entity_id"),
        )
    )
    new_final = new_r.join(
        comp, new_r.rec_id == comp.node, "left"
    ).select(
        "rec_id",
        "name",
        "val",
        F.coalesce("merged", "rec_id").alias("entity_id"),
    )
    # degree: old degree (from the prior resolution) + new-pair degree
    touch = raw.select(F.col("src").alias("rec_id")).union(
        raw.select(F.col("dst"))
    )
    new_deg = touch.groupBy("rec_id").agg(F.count(F.lit(1)).alias("d_new"))
    deg = (
        old_resolution.select("rec_id", F.col("n_matches").alias("d_old"))
        .unionByName(
            new_r.select("rec_id", F.lit(0).cast("long").alias("d_old"))
        )
        .join(new_deg, "rec_id", "left")
        .select(
            "rec_id",
            (F.col("d_old") + F.coalesce("d_new", F.lit(0))).alias("n_matches"),
        )
    )
    ent = old_final.unionByName(new_final).join(deg, "rec_id")
    w = Window.partitionBy("entity_id")
    is_canon = F.col("rec_id") == F.col("entity_id")
    return (
        ent.select(
            "rec_id",
            "entity_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            is_canon.alias("is_canonical"),
            "n_matches",
            F.max(F.when(is_canon, F.col("name"))).over(w).alias("golden_name"),
            F.max("val").over(w).alias("golden_value"),
        )
        .orderBy("rec_id")
    )


@register(
    "dedup_resolve_entities_append",
    oracle=_RESOLVE_SQL,
    tags=("ext", "er", "bench2"),
)
def dedup_resolve_entities_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entity resolution over the customer master: resolve
    the 75% "existing" slice (c_custkey % 4 != 0) with the batch
    kernel, then fold in the remaining 25% as the daily-ingest batch
    via ``resolve_entities_append`` — new records match against the
    corpus but the old corpus never re-matches against itself, and two
    existing entities merge only through a bridging new record.

    The oracle is ``dedup_resolve_entities``'s FULL-BATCH recursive-CTE
    SQL, verbatim: the append path must value-hash-equal a from-scratch
    resolution of the whole table — the strongest possible equivalence
    contract for an incremental operator (the ER analogue of
    sim_ivf_append's union-equivalence test, upgraded to a cross-engine
    hash)."""
    c = tables.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("block"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("val"),
    )
    old = c.filter(F.col("rec_id") % 4 != 0)
    new = c.filter(F.col("rec_id") % 4 == 0)
    old_res = resolve_entities(old)
    return resolve_entities_append(old, old_res, new)
