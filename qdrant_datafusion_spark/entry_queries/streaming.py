"""Streaming gates: each drives the real Structured Streaming path
(file source → operator → ``availableNow`` → memory sink or store) and
is graded by a batch DuckDB oracle.  The harness they share lives here
too: the pinned drain conf, the scratch source stream, and the staggered
batch files for the ingest gates."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.operators.sketch import cms_build, hist_build
from qdrant_datafusion_spark.sources.collection_source import register_collection_source
from qdrant_datafusion_spark.streaming.ingest import (
    sessionized_counts,
    stream_apply_changes,
    stream_dedup_exact,
    stream_interval_join,
    stream_near_dup_ingest,
    stream_paragraph_ingest,
    stream_semantic_ingest,
    streaming_funnel,
    streaming_topk,
    windowed_event_counts,
)

from ._common import _events, _t, gate
from .dedup import PARA_W, _J_INTER, _J_UNION, _PARA_UNITS_SQL, _word_windows
from .events import (
    Q_EVENTS_FUNNEL_SQL,
    Q_EVENTS_HOURLY_SQL,
    Q_EVENTS_SESSIONS_SQL,
    _funnel_present,
)
from .pipeline import CDC_LATEST_STATE_SQL, _events_cdc
from .sketch import (
    CMS_DEPTH,
    CMS_HH_WIDTH,
    HIST_BUCKETS,
    SKETCH_CMS_HEAVY_HITTERS_SQL,
    SKETCH_HIST_QUANTILES_SQL,
    _cents_bounds,
    _cms_hot_users,
    _order_cents,
    _verified_quantiles,
)
from .text import _TOKS_SQL
from .vector import (
    EMB_LSH_TABLES,
    _EMB_COS,
    _EMB_LSH_MATCH,
    _EMB_LSH_P_SQL,
    _EMB_LSH_TRUNC,
    _emb_lsh_bits_sql,
    _emb_lsh_planes_for,
)

# ===========================================================================
# round-6: Structured Streaming under the oracle gate.  Each gate drives
# the REAL streaming path — spark.readStream file source over the driver's
# parquet → streaming operator → trigger(availableNow) → memory sink — and
# presents the sink as a batch DataFrame graded by the same-shaped DuckDB
# oracle as the batch sibling.  Requires the µs-timestamp testdata
# generation (the streaming parquet source rejects TIMESTAMP(NANOS)); the
# batch loaders handle both, so only these three gates carry the
# constraint.
# ===========================================================================

#: per-session monotonic suffix so repeated gate invocations (a gate may
#: run more than once per session) never collide on a memory-sink name
_STREAM_SEQ = [0]


#: state-store/shuffle partition count while a streaming GATE drains:
#: every stateful operator commits one state file per partition per
#: micro-batch, so at fixture scale the session default (32) is pure
#: fixed harness cost (measured ~2.5x on the funnel gate).  Production
#: streams size this to key cardinality; the gates' outputs are
#: partition-count-invariant (aggregates / ordered sinks).
_STREAM_SHUFFLE_PARTITIONS = 8


@contextmanager
def _stream_conf(spark: SparkSession):
    """Scoped shuffle-partition override for a gate's stream run (the
    query snapshots session conf at start, so restoring after the drain
    is safe either way)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE_PARTITIONS)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_stream_to_table(
    stream_df: DataFrame, spark: SparkSession, tag: str, output_mode: str
) -> DataFrame:
    """Start ``stream_df`` into a uniquely-named memory sink with an
    availableNow trigger, block until it drains, return the sink table."""
    _STREAM_SEQ[0] += 1
    name = f"_stream_gate_{tag}_{_STREAM_SEQ[0]}"
    with _stream_conf(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"streaming gate {tag} did not drain in 600s")
    return spark.table(name)


def _read_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    schema = _t(spark, sf_dir, table).schema  # footer-only batch read
    # the streaming file source only accepts a DIRECTORY; the fixtures lay
    # each table out as a single file, so stream the sf dir with a glob
    # filter selecting just that table's file
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


@contextmanager
def _scratch_stream(spark: SparkSession, df: DataFrame):
    """``df`` re-laid-out as 2 parquet files in a scratch dir; yields a
    ``read()`` that opens them as a stream of one file per micro-batch,
    so stateful operators must carry state across batches.  The dir is
    removed on exit: a drained memory sink already holds every row."""
    with tempfile.TemporaryDirectory(prefix="sg_stream_") as tmp:
        src = os.path.join(tmp, "src")
        df.repartition(2).write.parquet(src)
        yield lambda: (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )


@gate("streaming_hourly_counts", oracle=Q_EVENTS_HOURLY_SQL)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_events_hourly, graded by the SAME oracle: the
    tumbling-window aggregate (streaming/ingest.windowed_event_counts)
    runs as a real streaming query (complete mode — append would withhold
    the final window until a later batch advanced the watermark), then
    window_start is mapped back to the batch gate's integer hour bucket.
    ``value`` is cast to decimal(18,6) BEFORE the streaming sum so the
    result is exact under any micro-batch summation order — same rule as
    the batch gate."""

    # watermarks require TIMESTAMP, not TIMESTAMP_NTZ; the session TZ is
    # pinned to UTC (session.py), so the cast is epoch-preserving and the
    # hour buckets stay identical to the batch gate's integer-ns `div`
    ev = _read_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withColumn("value", F.col("value").cast("decimal(18,6)"))
    agg = windowed_event_counts(ev, window="1 hour", watermark="10 minutes")
    sink = _run_stream_to_table(agg, spark, "hourly", "complete")
    return sink.select(
        F.expr("unix_micros(window_start) div 3600000000")
        .cast("long")
        .alias("hour_bucket"),
        "event_type",
        "n",
        F.round(F.col("sum_value").cast("double"), 2).alias("sum_value"),
    )


STREAMING_DEDUP_SQL = """
SELECT md5(lower(trim(text))) AS content_hash, 1::BIGINT AS n_survivors
FROM documents
GROUP BY 1
"""


@gate("streaming_dedup_survivors", oracle=STREAMING_DEDUP_SQL)
def streaming_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under a value oracle, with REAL cross-batch
    state: documents are re-laid-out as 2 files and streamed with
    maxFilesPerTrigger=1, so the dropDuplicates state must carry hashes
    across micro-batches (>=2 batches exercise the cross-batch
    property; more only multiply fixed harness cost).  Which doc survives per hash is arrival-order
    dependent (not graded); the oracle-checkable invariant is exactly-once
    per distinct content hash: every hash present in the corpus appears
    exactly once among the survivors, whatever the batch split."""

    with _scratch_stream(spark, _t(spark, sf_dir, "documents")) as read:
        kept = stream_dedup_exact(read(), "text")
        sink = _run_stream_to_table(kept, spark, "dedup", "append")
    return _survivor_hashes(sink)


def _survivor_hashes(sink: DataFrame) -> DataFrame:
    return (
        sink.select(F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").cast("long").alias("n_survivors"))
    )


@gate("streaming_dedup_bounded", oracle=STREAMING_DEDUP_SQL)
def streaming_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup — the production twin of
    streaming_dedup_survivors.  That gate's ``dropDuplicates`` state
    grows for the stream's LIFETIME (every distinct hash ever seen);
    this one drives ``stream_dedup_exact``'s watermark path (stock
    ``dropDuplicatesWithinWatermark`` state store), where a hash's
    state ages out once the watermark passes its event time + horizon —
    bounded state at always-on 100 TB/day ingest.  Event time is
    synthetic (epoch + doc_id seconds — deterministic) and the horizon
    (365 days) exceeds every SF's id span, so nothing ages out DURING
    the drain and the exactly-once-per-hash invariant is deterministic
    under the same oracle.  The eviction semantics themselves (dup
    re-emitted after state aged out; dup dropped within the horizon)
    are pinned by TestStreamDedupBounded in tests/test_streaming.py."""

    with _scratch_stream(spark, _t(spark, sf_dir, "documents")) as read:
        stream = read().withColumn(
            "_evt", F.timestamp_seconds(F.col("doc_id") + F.lit(10**9))
        )
        kept = stream_dedup_exact(
            stream, "text", watermark_col="_evt", watermark="365 days"
        )
        sink = _run_stream_to_table(kept, spark, "dedup_wm", "append")
    return _survivor_hashes(sink)


@gate("streaming_funnel_conversion", oracle=Q_EVENTS_FUNNEL_SQL)
def streaming_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_events_funnel, graded by the SAME oracle: the
    stateful funnel (applyInPandasWithState, update mode) runs as a real
    streaming query over the event log; per-user final depth comes from
    the last update row (depth is monotone, so max(depth)), stage counts
    are users with depth ≥ i, and the presentation reuses the batch
    gate's exact-ratio helper.  Single micro-batch by design: the
    operator's greedy advance equals batch semantics when rows arrive in
    event-time order (see streaming_funnel docstring + the
    batch-equivalence pytest); cross-batch statefulness is exercised by
    the multi-batch dedup gate, whose output is order-independent."""

    stages = ["view", "click", "purchase"]
    ev = _read_stream(spark, sf_dir, "events")
    upd = streaming_funnel(ev, stages)
    sink = _run_stream_to_table(upd, spark, "funnel", "update")
    final = sink.groupBy("user_id").agg(F.max("depth").alias("depth"))
    row = final.agg(
        *[
            F.sum((F.col("depth") >= i).cast("long")).alias(f"s{i}")
            for i in range(1, len(stages) + 1)
        ]
    ).collect()[0]
    base = spark.createDataFrame(
        [(i, s, int(row[f"s{i}"] or 0)) for i, s in enumerate(stages, 1)],
        "stage_idx int, stage string, users long",
    )
    return _funnel_present(base)


STREAMING_TOPK_SQL = """
SELECT event_type, event_id, round(value, 6) AS value, rank::INT AS rank
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events WHERE value IS NOT NULL
)
WHERE rank <= 5
"""


@gate("streaming_topk_values", oracle=STREAMING_TOPK_SQL)
def streaming_topk_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming top-k (applyInPandasWithState,
    streaming/ingest.streaming_topk) under a full value oracle, with REAL
    cross-batch state: events are re-laid-out as 2 files and streamed
    with maxFilesPerTrigger=1, so the per-key top-5 state must merge
    across micro-batches.  Top-k merge is associative ((value DESC,
    id ASC) ties), so the result is batch-split-invariant; the final
    state is recovered from the update-mode sink as top-k over the
    distinct emitted rows (every final row was emitted; every emitted
    non-final row is dominated)."""

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    with _scratch_stream(spark, ev.select("event_id", "event_type", "value")) as read:
        upd = streaming_topk(
            read(), key_col="event_type", id_col="event_id",
            score_col="value", k=5,
        )
        sink = _run_stream_to_table(upd, spark, "topk", "update")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        sink.select("event_type", "event_id", "value")
        .dropDuplicates(["event_type", "event_id"])
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select(
            "event_type",
            "event_id",
            F.round("value", 6).alias("value"),
            "rank",
        )
    )


@gate("streaming_sessions", oracle=Q_EVENTS_SESSIONS_SQL)
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_events_sessions, graded by the SAME oracle:
    ``session_window`` (streaming/ingest.sessionized_counts) runs as a
    real streaming query in complete mode; per-user session counts +
    event totals then reduce to the batch gate's shape.  Boundary note:
    session_window merges at gap-diff < 30 min (strict) while the batch
    lag+cumsum rule merges at <= 30 min — they can differ only for a
    pair exactly 30 min apart; the gate ASSERTS that precondition on the
    actual input (cheap lag scan, r6 ADVICE) so a regenerated fixture
    that violates it fails loudly instead of silently flipping red."""

    batch = _events(spark, sf_dir)
    w_pre = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n_boundary = (
        batch.withColumn("_gap", F.col("ts") - F.lag("ts").over(w_pre))
        .where(F.col("_gap") == 1_800_000_000_000)
        .count()
    )
    if n_boundary:
        raise AssertionError(
            f"streaming_sessions precondition violated: {n_boundary} "
            "adjacent pair(s) exactly 30 min apart — the strict "
            "(session_window) and inclusive (batch lag+cumsum) gap rules "
            "would disagree on this fixture"
        )
    ev = _read_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = sessionized_counts(ev, gap="30 minutes", watermark="1 hour")
    sink = _run_stream_to_table(agg, spark, "sessions", "complete")
    return sink.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


STREAMING_COLLECTION_SQL = """
SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


@gate("streaming_collection_source", oracle=STREAMING_COLLECTION_SQL)
def streaming_collection_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom streaming Python DataSource
    (sources.CollectionStreamReader) under a full value oracle: documents
    are laid out as a 4-fragment collection dir and streamed through
    ``format("qdrant_collection")`` with maxFilesPerTrigger-free
    availableNow (the source's offset IS the consumed fragment list), so
    the gate proves the offset/replay plumbing delivers EXACTLY the
    table: per-doc content digest equality against a direct scan."""

    register_collection_source(spark)
    with tempfile.TemporaryDirectory(prefix="sg_coll_stream_") as tmp:
        coll = os.path.join(tmp, "coll")
        _t(spark, sf_dir, "documents").repartition(4).write.parquet(coll)
        stream = (
            spark.readStream.format("qdrant_collection")
            .option("path", coll)
            .load()
        )
        sink = _run_stream_to_table(stream, spark, "collsrc", "append")
    return sink.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.col("text")).alias("text_md5"),
    )


# ===========================================================================
# round-7: the two LSH ingest paths (streaming/ingest.py
# stream_near_dup_ingest / stream_semantic_ingest) under FULL value
# oracles — the last streaming operators that had pytest-only evidence.
# Recipe: the table is split into INGEST_BATCHES batch files with
# STAGGERED mtimes (the file stream source orders by modification time,
# oldest first), so maxFilesPerTrigger=1 + availableNow forces a
# deterministic arrival order; the oracle then simulates the sequential
# greedy ingest exactly — INGEST_BATCHES unrolled stages of (in-batch
# collapse: drop the larger id of any qualifying in-batch pair) →
# (store check: drop anything near-dup to an earlier batch's survivor).
# Two batches fully exercise the cross-batch store check; four only
# doubled fixed micro-batch harness cost (round-9 verdict #7).
#
# The qualifying-pair relations are exact in SQL: text pairs are the
# exact 3-shingle Jaccard ≥ 0.2 set (dedup_minhash's gate proves LSH
# banding reaches full recall on this corpus at these parameters —
# signatures are per-doc, so corpus-wide recall transfers to every
# subset); vector pairs are the literal-planes bucket match + exact
# cosine ≥ 0.35 (the same {_EMB_LSH_MATCH} predicate as
# dedup_embedding_lsh, bucketing reproduced in SQL).
# ===========================================================================


#: >=2 exercises the cross-batch store check; more batches only multiply
#: fixed micro-batch harness cost (round-9 verdict #7)
INGEST_BATCHES = 2


def _staggered_batch_files(
    df: DataFrame, key_col: str, tmp: str, key_expr=None
) -> str:
    """Write df as INGEST_BATCHES single-file batches (rows keyed by
    ``key_col % INGEST_BATCHES``, or by ``key_expr == i`` when an
    explicit batch-id expression is given — e.g. a time cutoff for CDC
    feeds whose arrival order must respect per-key change order) into
    ``tmp/src`` with strictly increasing mtimes — a deterministic
    micro-batch streaming source."""

    src = os.path.join(tmp, "src")
    os.makedirs(src)
    base = time.time() - 3600
    for i in range(INGEST_BATCHES):
        part_dir = os.path.join(tmp, f"part{i}")
        pred = (
            (key_expr == i)
            if key_expr is not None
            else F.col(key_col) % INGEST_BATCHES == i
        )
        (
            df.where(pred)
            .coalesce(1)
            .write.parquet(part_dir)
        )
        (part_file,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        shutil.copyfile(part_file, dst)
        os.utime(dst, (base + 60 * i, base + 60 * i))
    return src


def _drain_batches(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    start,
    readback,
    key_expr=None,
) -> DataFrame:
    """Stream ``df`` in INGEST_BATCHES staggered micro-batches
    (:func:`_staggered_batch_files`, one file per trigger) through
    ``start(stream, path)`` — ``path(name)`` names a directory in the
    run's scratch dir, and the query must write its result to
    ``path("out")`` — drain it under :func:`_stream_conf`, and return
    ``readback(result)`` pinned before the scratch dir is removed."""

    with tempfile.TemporaryDirectory(prefix="sg_ingest_") as tmp:
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(_staggered_batch_files(df, key_col, tmp, key_expr))
        )
        # conf scope opens BEFORE start(): the query snapshots session
        # conf when it starts, and foreachBatch plans run under it
        with _stream_conf(spark):
            q = start(stream, lambda name: os.path.join(tmp, name))
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(f"stream {q.id} did not drain in 600s")
        out = spark.read.parquet(os.path.join(tmp, "out"))
        return readback(out).localCheckpoint(eager=True)


def _survivor_batches(id_col: str):
    """Readback of a store-join ingest's output: ``(id, batch_id)``."""
    return lambda out: out.select(
        id_col, F.col("_batch_id").cast("long").alias("batch_id")
    )


def _ingest_stages_sql(id_col: str, pair_cte: str) -> str:
    """The shared INGEST_BATCHES-stage sequential-greedy survivor
    simulation; expects CTEs ``allr({id_col})`` (all rows) and
    ``P(ia, ib)`` (qualifying pairs, ia < ib) from ``pair_cte``, and
    yields survivors with their originating batch."""
    nb = INGEST_BATCHES
    stages = [pair_cte]
    for i in range(nb):
        prev = " UNION ALL ".join(
            f"SELECT {id_col} FROM s{j}" for j in range(i)
        )
        store_filter = (
            f"""
  AND {id_col} NOT IN (
    SELECT p.ib FROM P p JOIN ({prev}) st ON p.ia = st.{id_col}
    UNION
    SELECT p.ia FROM P p JOIN ({prev}) st ON p.ib = st.{id_col})"""
            if i
            else ""
        )
        stages.append(
            f"""s{i} AS MATERIALIZED (
  SELECT {id_col} FROM allr WHERE {id_col} % {nb} = {i}
  AND {id_col} NOT IN (
    SELECT ib FROM P WHERE ia % {nb} = {i} AND ib % {nb} = {i}){store_filter}
)"""
        )
    finals = "\nUNION ALL ".join(
        f"SELECT {id_col}, {i}::BIGINT AS batch_id FROM s{i}"
        for i in range(nb)
    )
    return "WITH " + ",\n".join(stages) + "\n" + finals


STREAMING_NEAR_DUP_INGEST_SQL = _ingest_stages_sql(
    "doc_id",
    f"""sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [] END AS shingles
  FROM ({_TOKS_SQL})
),
allr AS (SELECT doc_id FROM documents),
P AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_J_INTER} > 0
    AND {_J_INTER}::DOUBLE / {_J_UNION} >= 0.2
)""",
)


@gate("streaming_near_dup_ingest", oracle=STREAMING_NEAR_DUP_INGEST_SQL)
def streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_near_dup_ingest end-to-end: documents stream in forced
    micro-batches through the MinHash-LSH ingest filter (in-batch
    collapse + signature-store check, foreachBatch with idempotent
    _batch_id-partitioned sinks); survivors are graded against the
    unrolled sequential-greedy oracle."""

    return _drain_batches(
        spark,
        _t(spark, sf_dir, "documents"),
        "doc_id",
        lambda stream, path: stream_near_dup_ingest(
            stream,
            store_dir=path("store"),
            out_dir=path("out"),
            checkpoint_dir=path("ckpt"),
            content_col="text",
            id_col="doc_id",
            k=3,
            num_hashes=32,
            bands=16,
            threshold=0.2,
            max_bucket_size=None,  # oracle models the UNCAPPED pair set
        ),
        _survivor_batches("doc_id"),
    )


STREAMING_SEMANTIC_INGEST_SQL = _ingest_stages_sql(
    "vec_id",
    f"""pc AS ({_EMB_LSH_P_SQL}),
raw AS (
  SELECT vec_id, embedding,
         {_emb_lsh_bits_sql()}
  FROM embeddings
  WHERE embedding IS NOT NULL
),
b AS (
  SELECT vec_id, embedding, {_EMB_LSH_TRUNC}
  FROM raw, pc
),
allr AS (SELECT vec_id FROM embeddings),
P AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM b a JOIN b b ON a.vec_id < b.vec_id AND ({_EMB_LSH_MATCH})
  WHERE {_EMB_COS} >= 0.35
)""",
)


@gate("streaming_semantic_ingest", oracle=STREAMING_SEMANTIC_INGEST_SQL)
def streaming_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_semantic_ingest end-to-end: embeddings stream in forced
    micro-batches through the hyperplane-LSH semantic filter (corpus-
    scaled pool slice — same planes as dedup_embedding_lsh ⇒
    deterministic buckets ⇒ full value oracle)."""

    emb = _t(spark, sf_dir, "embeddings")
    return _drain_batches(
        spark,
        emb,
        "vec_id",
        lambda stream, path: stream_semantic_ingest(
            stream,
            store_dir=path("store"),
            out_dir=path("out"),
            checkpoint_dir=path("ckpt"),
            vector_col="embedding",
            id_col="vec_id",
            bucket_planes=_emb_lsh_planes_for(emb),
            tables=EMB_LSH_TABLES,
            threshold=0.35,
        ),
        _survivor_batches("vec_id"),
    )


@gate("streaming_heavy_hitters", oracle=SKETCH_CMS_HEAVY_HITTERS_SQL)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sketch_cms_heavy_hitters, graded by the SAME
    oracle — the point is CMS mergeability: cell counts ADD, so the
    UNCHANGED ``cms_build`` operator runs directly on a readStream
    (events re-laid-out as 2 files, maxFilesPerTrigger=1) as a stateful
    complete-mode aggregation whose state is the bounded depth×width
    sketch, and the final sketch is bit-identical to the batch build
    whatever the micro-batch split.  The post-stream estimate/threshold
    math is the batch path on the drained sink table."""

    raw = _t(spark, sf_dir, "events")
    with _scratch_stream(spark, raw) as read:
        sketch = _run_stream_to_table(
            cms_build(read(), "user_id", depth=CMS_DEPTH, width=CMS_HH_WIDTH),
            spark,
            "cms",
            "complete",
        )
    return _cms_hot_users(raw, sketch)


@gate("streaming_hist_quantiles", oracle=SKETCH_HIST_QUANTILES_SQL)
def streaming_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sketch_hist_quantiles, graded by the SAME
    oracle — the point is histogram mergeability: bucket counts ADD, so
    the UNCHANGED ``hist_build`` runs directly on a readStream (orders
    re-laid-out as 2 files, maxFilesPerTrigger=1) as a complete-mode
    aggregation whose state is the bounded ≤ B-row count vector.  The
    one streaming-specific requirement is EXPLICIT bounds (a streaming
    query allows one aggregation, and a production stream fixes bucket
    edges ahead of time anyway); the gate derives them batch-side from
    the same data, so the drained sketch — and every downstream
    quantile/grading number — is bit-identical to the batch build."""

    raw = _t(spark, sf_dir, "orders")
    cents = _order_cents(raw)
    lo, hi = _cents_bounds(cents)
    with _scratch_stream(spark, raw) as read:
        sketch = _run_stream_to_table(
            hist_build(_order_cents(read()), "c", HIST_BUCKETS, lo=lo, hi=hi),
            spark,
            "hist",
            "complete",
        )
    return _verified_quantiles(cents, sketch)


STREAMING_INTERVAL_JOIN_SQL = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id,
       c.event_id AS click_id,
       ((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000)::BIGINT AS lag_s
FROM events p JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
"""


@gate("streaming_interval_join", oracle=STREAMING_INTERVAL_JOIN_SQL)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join: purchases ⋈ same-user
    clicks within the preceding 6 hours, as a REAL two-branch streaming
    self-join over a 2-file re-layout with maxFilesPerTrigger=1 — pairs
    whose sides arrive in different micro-batches must meet through the
    join STATE.  Watermark (40 days) exceeds the fixture span (30 days),
    so nothing evicts and the appended set equals the batch join
    whatever the file split; see streaming/ingest.stream_interval_join
    for the bounded-state production contract."""

    with _scratch_stream(spark, _t(spark, sf_dir, "events")) as read:
        def branch(etype: str) -> DataFrame:
            return read().filter(F.col("event_type") == etype).select(
                "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
            )

        joined = stream_interval_join(
            branch("purchase"), branch("click"), window="6 hours"
        )
        out = joined.select(
            F.col("p.user_id").alias("user_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
            F.expr("(unix_micros(p.ts) - unix_micros(c.ts)) div 1000000")
            .cast("long")
            .alias("lag_s"),
        )
        return _run_stream_to_table(out, spark, "ij", "append")


@gate("streaming_cdc_apply", oracle=CDC_LATEST_STATE_SQL)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_apply_changes end-to-end: the events changelog arrives in
    two time-ordered micro-batches (ts ≤/> the exact median) and folds
    continuously into a key-hash-bucketed snapshot store — the
    Delta-Live-Tables APPLY CHANGES INTO shape with per-batch cost
    bounded by touched buckets.  The drained store must equal the
    full-changelog latest-state fold (CDC_LATEST_STATE_SQL oracle):
    streaming MERGE == batch MERGE, value-hashed."""

    ev = _events_cdc(spark, sf_dir)
    cutoff = int(
        ev.agg(F.expr("CAST(percentile(ts, 0.5) AS BIGINT)")).collect()[0][0]
    )
    return _drain_batches(
        spark,
        ev,
        "user_id",
        lambda stream, path: stream_apply_changes(
            stream,
            snapshot_dir=path("out"),
            checkpoint_dir=path("ckpt"),
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            op_col="event_type",
            delete_ops=("error",),
            n_buckets=16,
        ),
        lambda out: out.select(
            "user_id", "ts", "event_id", "event_type", "v_micro"
        ).orderBy("user_id"),
        key_expr=(F.col("ts") > cutoff).cast("int"),
    )


STREAMING_PARAGRAPH_INGEST_SQL = f"""
WITH {_PARA_UNITS_SQL},
fl AS MATERIALIZED (
  SELECT doc_id, i, u,
         row_number() OVER (
           PARTITION BY u
           ORDER BY doc_id % {INGEST_BATCHES}, doc_id, i) AS rn
  FROM un
)
SELECT doc_id,
       count(*)::BIGINT AS n_units,
       coalesce(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN u END, ' ' ORDER BY i),
                '') AS kept_text,
       (doc_id % {INGEST_BATCHES})::BIGINT AS batch_id
FROM fl GROUP BY doc_id ORDER BY doc_id
"""


@gate("streaming_paragraph_ingest", oracle=STREAMING_PARAGRAPH_INGEST_SQL)
def streaming_paragraph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_paragraph_ingest end-to-end: documents stream in forced
    micro-batches (doc_id % INGEST_BATCHES, staggered mtimes) through
    the exact paragraph-dedup ingest filter (in-batch first-occurrence
    collapse + unit-hash-store check, foreachBatch with idempotent
    _batch_id sinks).  Because the filter is EXACT, the drained output
    equals ONE global first-occurrence pass in arrival order — the
    oracle is the batch-global SQL re-ranked by (batch, doc, pos), with
    no recall caveats."""

    return _drain_batches(
        spark,
        _t(spark, sf_dir, "documents"),
        "doc_id",
        lambda stream, path: stream_paragraph_ingest(
            stream,
            store_dir=path("store"),
            out_dir=path("out"),
            checkpoint_dir=path("ckpt"),
            units=_word_windows(F.col("text"), PARA_W),
        ),
        lambda out: out.select(
            "doc_id",
            "n_units",
            "n_kept",
            "kept_text",
            F.col("_batch_id").cast("long").alias("batch_id"),
        ).orderBy("doc_id"),
    )
