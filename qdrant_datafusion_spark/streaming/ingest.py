"""Streaming operators over an event/point stream.

All helpers take an *unbounded* DataFrame (``spark.readStream...``) and
return either a transformed streaming DataFrame or a started query.  For
tests, a file source over the driver's parquet + ``trigger(availableNow)``
+ memory sink drives them to completion synchronously.

Scale notes:
- windowed aggregation keys are (window, group) — state is bounded by the
  watermark horizon; late rows beyond it are dropped, not buffered.
- streaming exact-dedup keeps only the content hash in state
  (``dropDuplicates`` on a 32-char column), not the payload.
- the collection writer is an append-mode parquet sink with checkpointing:
  exactly-once into the same directory layout CollectionCatalog reads.
- custom stateful operators use ``applyInPandasWithState``.  Spark 4's
  newer ``transformWithStateInPandas`` was evaluated as an alternate
  path and works API-wise, but its driver-side state server requires
  ``google.protobuf`` (broken in this environment) — revisit where
  protobuf is installable; the state contracts here port directly
  (ValueState of the same tuple the GroupState carries).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from qdrant_datafusion_spark.session import Pins


def _hadoop_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` through Hadoop's FileSystem
    API, so plain directories and URIs (``file://``, ``hdfs://``,
    ``s3a://``) take the same code."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _guard_store_lifetime(spark, store_dir: str, batch_id: int) -> None:
    """Fail loudly if ``store_dir`` predates this checkpoint lifetime.

    The store read of :func:`_store_join_ingest` excludes the partition
    whose ``_batch_id`` equals the current batch id, which is only sound
    while batch ids are monotone within one checkpoint lifetime.  If a
    user deletes/resets the checkpoint directory but keeps the store,
    batch ids restart at 0 and genuinely-historical partitions alias the
    "my own replay" case — silently re-admitting duplicates.  Batch ids
    commit in order, so a store partition with ``_batch_id`` GREATER
    than the current batch id can only mean a reset: raise instead of
    corrupting the dedup contract.

    Cost: one driver-side directory listing (partition names only), no
    Spark job.  The residual case is documented on
    :func:`_store_join_ingest`.
    """
    fs, path = _hadoop_path(spark, store_dir)
    if not fs.exists(path):
        return
    stale = [
        int(name.split("=", 1)[1])
        for st in fs.listStatus(path)
        if (name := st.getPath().getName()).startswith("_batch_id=")
        and name.split("=", 1)[1].isdigit()
        and int(name.split("=", 1)[1]) > batch_id
    ]
    if stale:
        raise ValueError(
            f"store {store_dir!r} holds partitions from a future batch "
            f"id ({max(stale)} > current {batch_id}): the checkpoint "
            "was reset against an existing store. A store directory is "
            "bound to one checkpoint lifetime — start a fresh store "
            "(or restore the original checkpoint) instead of silently "
            "re-admitting duplicates."
        )


def _read_partitions(spark, path: str, schema: str, where: str) -> DataFrame:
    """The rows of the partitioned parquet under ``path`` that match
    ``where``, read with the DDL ``schema`` (so no footer or
    schema-inference job runs); an empty frame, which Catalyst prunes
    from every join and union, if nothing was written there yet."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return spark.createDataFrame([], schema).where("false")
    return spark.read.schema(schema).parquet(path).where(where)


def _overwrite_partitions(df: DataFrame, path: str, part_col: str) -> None:
    """Write ``df`` as ``part_col``-partitioned parquet under ``path``,
    replacing only the partitions ``df`` holds (dynamic overwrite)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def _run_batches(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int, Pins], None],
) -> StreamingQuery:
    """Drain ``stream`` with an ``availableNow`` ``foreachBatch`` query
    that calls ``body(batch, batch_id, pin)`` on every non-empty
    micro-batch.

    The micro-batch arrives pinned and the empty check reads the pin, so
    each batch scans its source once.  ``pin`` is a :class:`Pins` scoped
    to the batch: ``pin(df)`` pins a frame the body reads more than
    once, ``pin(df, lineage=False)`` one whose sources the body then
    overwrites, and every pin is released before the batch returns.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        pin = Pins()
        try:
            batch = pin(batch)
            if not batch.isEmpty():
                body(batch, int(batch_id), pin)
        finally:
            pin.release()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _store_join_ingest(
    points: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    store_schema: Callable[[DataFrame], str],
    decide: Callable[..., tuple[DataFrame, DataFrame]],
) -> StreamingQuery:
    """The ``foreachBatch`` skeleton of the store-join ingests — the
    canonical shape for join-against-growing-history logic that
    Structured Streaming state cannot express.  Per non-empty micro-batch
    (pinned by :func:`_run_batches`):

    1. :func:`_guard_store_lifetime` checks the store against this
       checkpoint lifetime;
    2. the store of everything already accepted is read: the prior
       ``_batch_id`` partitions only, with the DDL schema
       ``store_schema(batch)`` plus ``_batch_id int`` — an empty frame
       before the first write;
    3. ``decide(batch, store, pin)`` returns ``(survivors, store_rows)``;
    4. the survivors go to ``out_dir`` and the store rows to
       ``store_dir``, both ``_batch_id``-partitioned with dynamic
       partition overwrite.

    Replay: ``foreachBatch`` is at-least-once — a batch whose sinks wrote
    but whose checkpoint did not commit is re-delivered under the same
    id.  Dynamic overwrite makes the replay replace its own partitions
    instead of appending twice (idempotent output without a table
    format), and step 2 skips this batch's own partition: a replayed
    batch that read back its own accepted rows would reject every one of
    them and overwrite its output with nothing.

    Store lifetime: that exclusion is only sound while batch ids grow,
    so a store directory is bound to ONE checkpoint lifetime.  Resetting
    the checkpoint against an existing store restarts batch ids at 0;
    :func:`_guard_store_lifetime` fails the batch when the store holds a
    partition from a future batch id.  A reset after a single-batch
    history is indistinguishable from a legitimate replay of batch 0 by
    ids alone and is not caught.
    """

    def body(batch: DataFrame, batch_id: int, pin) -> None:
        spark = batch.sparkSession
        _guard_store_lifetime(spark, store_dir, batch_id)
        store = _read_partitions(
            spark,
            store_dir,
            f"{store_schema(batch)}, _batch_id int",
            f"_batch_id != {batch_id}",
        )
        survivors, store_rows = decide(batch, store, pin)
        for df, path in ((survivors, out_dir), (store_rows, store_dir)):
            _overwrite_partitions(
                df.withColumn("_batch_id", F.lit(batch_id)), path, "_batch_id"
            )

    return _run_batches(points, checkpoint_dir, body)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding) windowed counts+sums with late-data handling."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), group_col)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            group_col,
            "n",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation via ``session_window`` (the streaming
    sibling of the batch lag+cumsum sessionization in entry_queries)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "6 hours",
    watermark: str = "40 days",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: each ``left`` row pairs
    with the ``right`` rows of the same key whose timestamp falls in
    ``[left.ts − window, left.ts]`` — the attribution shape (purchase ⋈
    preceding clicks) as a real Structured Streaming join.

    Both sides carry a watermark plus the time-range predicate, which is
    exactly what lets Spark BOUND THE JOIN STATE: a right row's state
    can be dropped once the left watermark passes its ts + window (and
    symmetrically), so state is O(key-rate × (window + lateness)), not
    O(stream length) — the property that makes a stream-stream join
    runnable forever at 100 TB/day.  ``watermark`` is the lateness SLA:
    rows later than it may silently miss pairs.  Correctness gates run
    with a watermark longer than the fixture's whole time span so NO
    state is evicted and the appended result set equals the batch join
    bit-for-bit regardless of how files land in micro-batches;
    production tightens it to the real lateness bound — the mechanics
    are identical, only the eviction horizon moves.

    Returns the raw joined frame aliased ``p`` (left) / ``c`` (right);
    callers project with ``F.col("p.…")`` / ``F.col("c.…")``.
    """
    p = left.withWatermark(ts_col, watermark).alias("p")
    c = right.withWatermark(ts_col, watermark).alias("c")
    cond = (
        (F.col(f"p.{key_col}") == F.col(f"c.{key_col}"))
        & (
            F.col(f"c.{ts_col}")
            >= F.col(f"p.{ts_col}") - F.expr(f"INTERVAL {window}")
        )
        & (F.col(f"c.{ts_col}") <= F.col(f"p.{ts_col}"))
    )
    return p.join(c, cond, "inner")


def stream_dedup_exact(
    points: DataFrame,
    content_col: str,
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact dedup: drop rows whose normalized content hash was
    already seen (state = hash only).  With a watermark column, state ages
    out beyond the horizon (bounded state at 100 TB/day ingest)."""
    hashed = points.withColumn(
        "_content_hash", F.md5(F.lower(F.trim(F.col(content_col))))
    )
    if watermark_col is not None:
        hashed = hashed.withWatermark(watermark_col, watermark)
        return hashed.dropDuplicatesWithinWatermark(["_content_hash"]).drop(
            "_content_hash"
        )
    return hashed.dropDuplicates(["_content_hash"]).drop("_content_hash")


def stream_collection_writer(
    points: DataFrame,
    collection_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuous ingestion into a collection directory (parquet append,
    exactly-once via checkpoint) — the streaming version of the write path
    the reference left ``todo!()`` (src/table.rs:186-193)."""
    writer = (
        points.writeStream.format("parquet")
        .option("path", collection_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_topk(
    events: DataFrame,
    key_col: str = "event_type",
    id_col: str = "event_id",
    score_col: str = "value",
    k: int = 5,
) -> DataFrame:
    """Custom stateful operator: a running per-key top-k over an unbounded
    stream, via ``applyInPandasWithState`` (Spark has no built-in streaming
    top-k — windowed aggs can't keep "best k ever seen").

    State per key is just the current top-k (ids, scores) — O(k) regardless
    of stream length, so state stays bounded at any ingest volume.  Each
    micro-batch merges its rows into the state with one NumPy argsort over
    ≤ k + batch rows and emits the refreshed ranking (update output mode).
    Ties break by ascending id for deterministic output.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} string, {id_col} bigint, {score_col} double, rank int"
    )
    state_schema = "ids array<bigint>, scores array<double>"

    def update(key, pdfs, state):
        if state.exists:
            ids, scores = state.get
            ids, scores = list(ids), list(scores)
        else:
            ids, scores = [], []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf[id_col])
            scores.extend(float(x) for x in pdf[score_col])
        order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:k]
        ids = [ids[i] for i in order]
        scores = [scores[i] for i in order]
        state.update((ids, scores))
        yield pd.DataFrame(
            {
                key_col: np.repeat(key[0], len(ids)),
                id_col: ids,
                score_col: scores,
                "rank": np.arange(1, len(ids) + 1, dtype="int32"),
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _jaccard_at_least(a: str, b: str, threshold: float) -> str:
    """SQL predicate: exact Jaccard of fingerprint arrays ``a``, ``b`` is
    at least ``threshold``."""
    inter = f"size(array_intersect({a}, {b}))"
    return (
        f"CAST({inter} AS DOUBLE) / (size({a}) + size({b}) - {inter})"
        f" >= {float(threshold)!r}D"
    )


def stream_near_dup_ingest(
    points: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> StreamingQuery:
    """Ingest-time NEAR-dup filtering: each micro-batch is MinHash-LSH
    checked against the signature store of everything already accepted
    (seed it with the batch corpus's signatures, or start empty), novel
    documents append to ``out_dir``, and their signatures append to the
    store — so later batches dedup against earlier ones automatically.

    The batch pin, store read, sinks, replay and store-lifetime contract
    are :func:`_store_join_ingest`'s.  Each batch is signed once and
    decided once:

    1. one `minhash_buckets` pass over the pinned batch gives the pinned
       signature table ``(_id, _fp, bucket)`` — signatures are the
       expensive stage, everything downstream is bucket-keyed joins;
    2. from that one table: the in-batch near-dups (the capped bucket
       self-join of `minhash_lsh_dups`, exact-Jaccard verified, keep the
       min id) and the store near-dups (the signatures join the store
       on the bucket key with exact-Jaccard verification inside the
       join — the store carries the fingerprint sets, so verification
       needs no second lookup);
    3. one anti-join removes the union of both sets, and the survivors
       are pinned.  Checking the store against every batch signature,
       not only the in-batch survivors, leaves the survivors unchanged:
       ``batch − D1 − D2`` is the same set whichever side ``D2`` (the
       store dups) is computed over;
    4. the survivors go to ``out_dir``, and their signatures (the pinned
       signatures semi-joined to the pinned survivors) to the store.

    Scale: the per-batch work is the batch-sized slice of the batch
    operator (bucket-keyed joins only); the store grows with accepted
    docs, and its join side is bucket-partitioned parquet a 1000-executor
    join handles like any LSH self-join half.  Measured long-stream
    (``scripts/ingest_growth_probe.py``, 32 all-novel batches to a
    992k-row store): per-batch wall growth 1.01x, shuffle volume
    CONSTANT per batch — Spark broadcasts the batch-side bucket rows
    and streams the store scan, so the store is never exchanged; the
    one linear term is the store's single parquet scan per batch (the
    plain-parquet floor — bound it over very long streams by compacting
    the store into bucket-sorted files or a table format).

    ``max_bucket_size`` caps the in-batch collapse's bucket join
    (same guard as `minhash_lsh_dups`); pass ``None`` for the exact
    uncapped contract
    (the oracle-graded gate does), or keep the cap in production where a
    degenerate hot band bucket must not go O(n²).  The store join is
    cap-free — the cap only affects the in-batch self-join of step 2.
    """
    from qdrant_datafusion_spark.operators.dedup import (
        _cap_hot_buckets,
        minhash_buckets,
    )

    def decide(batch: DataFrame, store: DataFrame, pin):
        sigs = pin(minhash_buckets(batch, content_col, id_col, k, num_hashes, bands))
        # in-batch near-dups: the capped bucket self-join, keep the
        # smallest id (same kernel as minhash_lsh_dups)
        paired = _cap_hot_buckets(sigs, ["bucket"], max_bucket_size)
        in_batch = (
            paired.selectExpr("_id AS id_a", "_fp AS fp_a", "bucket")
            .join(paired.selectExpr("_id AS id_b", "_fp AS fp_b", "bucket"), "bucket")
            .filter(f"id_a < id_b AND {_jaccard_at_least('fp_a', 'fp_b', threshold)}")
            .selectExpr(f"id_b AS `{id_col}`")
        )
        in_store = (
            sigs.join(store.selectExpr("_fp AS _s_fp", "bucket"), "bucket")
            .filter(_jaccard_at_least("_fp", "_s_fp", threshold))
            .selectExpr(f"_id AS `{id_col}`")
        )
        survivors = pin(
            batch.join(in_batch.unionByName(in_store).distinct(), id_col, "left_anti")
        )
        return survivors, sigs.join(
            survivors.selectExpr(f"`{id_col}` AS _id"), "_id", "left_semi"
        )

    return _store_join_ingest(
        points,
        store_dir,
        out_dir,
        checkpoint_dir,
        # the (_id, _fp, bucket) rows of minhash_buckets
        lambda b: f"_id {b.schema[id_col].dataType.simpleString()}, "
        "_fp array<bigint>, bucket string",
        decide,
    )


def stream_apply_changes(
    changes: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str | None = None,
    delete_ops: Sequence[str] = ("delete",),
    n_buckets: int = 64,
) -> StreamingQuery:
    """Streaming MERGE INTO — the Delta-Live-Tables ``APPLY CHANGES
    INTO`` shape over plain parquet: a keyed CDC stream continuously
    folds into a maintained current-state snapshot.  Each micro-batch
    resolves latest-per-key within itself (``cdc.apply_changes``
    semantics: upserts replace, a latest-is-delete tombstones, unseen
    keys insert) and merges into the snapshot store.

    Scale mechanics — the snapshot is key-hash BUCKETED
    (``_kb = pmod(xxhash64(keys), n_buckets)`` partition column) so a
    micro-batch never touches more of it than it changes:

    1. the batch's touched bucket ids collect to the driver
       (≤ ``n_buckets`` ints — bounded driver state);
    2. ONLY those bucket partitions are read back (partition pruning on
       ``_kb``), merged with the batch via :func:`~qdrant_datafusion_spark.operators.cdc.apply_changes`
       (one delta-sized window + one keyed anti-join), pinned with an
       eager localCheckpoint (you cannot overwrite a path you are still
       lazily reading), and
    3. rewritten with dynamic partition overwrite — untouched buckets
       are never read OR written, so per-batch cost tracks the batch,
       not the 100 TB snapshot.

    Replay safety comes from the MERGE itself being IDEMPOTENT (unlike
    append sinks): re-applying the same changeset to the already-merged
    store upserts identical rows and re-tombstones absent keys, so the
    at-least-once ``foreachBatch`` contract needs no ``_batch_id``
    bookkeeping.  Cross-batch ordering contract: arrival order must
    respect per-key change order (same as every incremental CDC fold
    here — time-partitioned CDC feeds satisfy it by construction);
    within a batch ``order_cols`` resolves.

    Checkpoint-RESET semantics (why this sink needs no
    ``_guard_store_lifetime``, unlike the three store-join ingests): a
    reset re-delivers every source file in the SAME mtime order the
    ordering contract already governs, and re-folding a prefix of the
    log into its own fold's result CONVERGES — an old upsert may
    transiently regress a key (and an old re-insert transiently revive
    a tombstoned one), but the later changes that produced the current
    state re-apply on top and restore it exactly, delete included
    (``tests/test_streaming.py::
    test_checkpoint_reset_replay_converges_through_regression``
    forces the old-batch-onto-newer-snapshot window with
    ``maxFilesPerTrigger=1`` and asserts byte-equality).  The
    store-join ingests cannot make this argument — their store is an
    accept/reject HISTORY whose decisions are not re-derivable from a
    replayed prefix (a replayed batch would be deduped against rows it
    itself admitted), hence their loud reset guard; here the snapshot
    is a pure fold of the log, so the reset is safe by construction
    and a marker guard would only reject a legitimate recovery.
    """
    from qdrant_datafusion_spark.operators.cdc import apply_changes

    keys = list(key_cols)
    kb = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(n_buckets))

    def body(batch: DataFrame, batch_id: int, pin) -> None:
        spark = batch.sparkSession
        touched = {
            int(r["_kb"])
            for r in batch.select(kb.alias("_kb")).distinct().collect()
        }  # bounded: <= n_buckets ints
        # snapshot schema = the batch's columns (full-row upserts, the
        # MERGE ... UPDATE SET * shape apply_changes implements)
        store = _read_partitions(
            spark,
            snapshot_dir,
            f"{batch.schema.toDDL()}, _kb int",
            f"_kb IN ({', '.join(map(str, sorted(touched)))})",
        )
        merged = apply_changes(
            store.select(*batch.columns),
            batch,
            key_cols=keys,
            order_cols=order_cols,
            op_col=op_col,
            delete_ops=delete_ops,
        )
        out = pin(merged.withColumn("_kb", kb), lineage=False)
        _overwrite_partitions(out, snapshot_dir, "_kb")
        # dynamic overwrite only rewrites partitions PRESENT in the
        # output — a bucket whose every key was tombstoned this batch
        # produces no rows, so its stale partition is deleted here
        # (through Hadoop's FileSystem: a snapshot URI works too)
        present = {
            int(r["_kb"]) for r in out.select("_kb").distinct().collect()
        }  # bounded: <= n_buckets ints
        fs, snap = _hadoop_path(spark, snapshot_dir)
        for b in touched - present:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(snap, f"_kb={b}"), True)

    return _run_batches(changes, checkpoint_dir, body)


def stream_paragraph_ingest(
    points: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    units=None,
    normalize: bool = True,
    join_sep: str = " ",
) -> StreamingQuery:
    """Ingest-time EXACT paragraph dedup — the streaming form of
    ``dedup.paragraph_dedup_incremental`` (Dolma's Bloom-filter dedup is
    exactly this shape run over a stream: Soldaini et al. 2024): each
    micro-batch's units are first-occurrence-collapsed within the batch,
    checked against the unit-hash store of everything already accepted,
    and the CLEANED documents (surviving units rejoined in order) append
    to ``out_dir`` while the newly accepted unit hashes append to
    ``store_dir`` — later batches dedup against earlier ones
    automatically, so the drained result equals one global
    first-occurrence pass in arrival order.

    Mechanics per batch (the :func:`_store_join_ingest` skeleton: batch
    pin, store read, sinks, replay and store-lifetime contract):

    1. units posexplode ONCE (pinned) to
       ``(id, pos, unit, xxhash64(norm))`` rows;
    2. in-batch first occurrence = the map-side-combining
       ``min(struct(id, pos))`` groupBy (boilerplate-skew-safe) + join
       back;
    3. store check: the batch's candidate hashes — already distinct and
       micro-batch-sized — BROADCAST against the store parquet, which is
       scanned and never shuffled.  (The batch operator's Bloom tier is
       unnecessary here: its purpose is shrinking the probe broadcast,
       and a micro-batch's distinct unit hashes already fit one.)
    4. the flagged units are pinned, then the cleaned docs (``id,
       n_units, n_kept, kept_text``) go to ``out_dir`` and the newly
       accepted unit hashes (``uh``) to ``store_dir``.

    The store is 8 bytes per distinct accepted unit — the xxhash64
    convention of the incremental batch operator (widen to md5 if a
    100 TB deployment's unit count makes 64-bit birthday collisions a
    concern).
    """
    unit_expr = units if units is not None else F.split(F.col(text_col), sep)

    def _norm(u):
        return F.lower(F.trim(u)) if normalize else u

    def decide(batch: DataFrame, store: DataFrame, pin):
        ex = pin(
            batch.select(F.col(id_col).alias("_id"), unit_expr.alias("_us"))
            .select(
                "_id",
                F.posexplode(
                    F.filter(F.col("_us"), lambda u: F.trim(u) != "")
                ).alias("_pos", "_u"),
            )
            .withColumn("_uh", F.xxhash64(_norm(F.col("_u"))))
        )
        firsts = ex.groupBy("_uh").agg(
            F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first")
        )
        flagged = ex.join(firsts, "_uh").withColumn(
            "_is_first",
            (F.col("_id") == F.col("_first._id"))
            & (F.col("_pos") == F.col("_first._pos")),
        )
        cand = (
            flagged.filter("_is_first").select(F.col("_uh").alias("uh")).distinct()
        )
        matched = (
            store.select("uh")
            .join(F.broadcast(cand), "uh")
            .distinct()
            .withColumnRenamed("uh", "_uh")
            .withColumn("_in_store", F.lit(True))
        )
        # pin once: the docs sink and the store sink are two actions —
        # without the pin each would re-run the explode + both joins
        flagged = pin(
            flagged.join(F.broadcast(matched), "_uh", "left").withColumn(
                "_kept", F.col("_is_first") & F.col("_in_store").isNull()
            )
        )
        out = (
            flagged.groupBy("_id")
            .agg(
                F.count("*").cast("long").alias("n_units"),
                F.sum(F.col("_kept").cast("long")).cast("long").alias(
                    "n_kept"
                ),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_kept"),
                                    F.struct(F.col("_pos"), F.col("_u")),
                                )
                            )
                        ),
                        lambda s: s["_u"],
                    ),
                    join_sep,
                ).alias("kept_text"),
            )
            .withColumnRenamed("_id", id_col)
        )
        return out, flagged.filter("_kept").select(F.col("_uh").alias("uh")).distinct()

    return _store_join_ingest(
        points, store_dir, out_dir, checkpoint_dir, lambda b: "uh bigint", decide
    )


def stream_semantic_ingest(
    points: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_planes: Sequence[Sequence[float]] | None = None,
    tables: int = 4,
    threshold: float = 0.95,
) -> StreamingQuery:
    """Ingest-time SEMANTIC dedup — the embedding sibling of
    :func:`stream_near_dup_ingest`: each micro-batch is hyperplane-LSH
    checked against the vector store of everything already accepted;
    only semantically novel rows (no accepted vector within the cosine
    ``threshold`` ball) append to ``out_dir``, and their (id, vector,
    bucket) rows extend the store for later batches.

    Mechanics per batch (the :func:`_store_join_ingest` skeleton: batch
    pin, store read, sinks, replay and store-lifetime contract):

    1. in-batch collapse via the batch operator
       :func:`~qdrant_datafusion_spark.operators.dedup.embedding_near_dups`
       with the same planes (keep the smallest id per near-pair);
    2. the collapsed rows' LSH buckets (pinned) join the store on the
       bucket key; the exact sequential-fold cosine kernel verifies
       candidates inside the join (the store carries vectors, so no
       second lookup);
    3. the survivors (pinned) go to ``out_dir`` and their bucket rows
       to ``store_dir``.

    ``bucket_planes`` defaults to
    :func:`~qdrant_datafusion_spark.operators.dedup.auto_bucket_planes`
    sized for a million-row store — pass corpus-scaled planes at real
    scale, exactly like the batch operator.  Every shuffle keys on the
    bucket; vectors travel only store→join, never pairwise.
    """
    from qdrant_datafusion_spark.functions.distance import cosine_similarity
    from qdrant_datafusion_spark.operators.dedup import (
        _make_lsh_bucket_udf,
        auto_bucket_planes,
        embedding_near_dups,
    )

    def decide(batch: DataFrame, store: DataFrame, pin):
        # default planes need the vector dim — resolved from the first
        # non-null row of each batch rather than the stream schema (which
        # a file source reports, but a socket/rate-shaped source may not)
        first = batch.select(vector_col).filter(F.col(vector_col).isNotNull()).take(1)
        if not first:
            # every vector NULL: nothing to hash, nothing can be a dup —
            # the rows all survive (the oracle keeps NULL-embedding rows)
            # and add no store rows
            return batch, store.limit(0)
        planes = bucket_planes
        if planes is None:
            planes, _p = auto_bucket_planes(
                1_000_000, len(first[0][0]), tables=tables
            )
        # 1. collapse in-batch semantic dups (keep the smallest id)
        pairs = embedding_near_dups(
            batch, vector_col, id_col, threshold=threshold,
            bucket_planes=planes, tables=tables,
        )
        batch = batch.join(
            pairs.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        bucket_udf = _make_lsh_bucket_udf(planes, tables)
        buckets = pin(
            batch.select(
                F.col(id_col).alias("_id"),
                F.col(vector_col).alias("_v"),
                F.explode(bucket_udf(F.col(vector_col))).alias("bucket"),
            ).filter(F.col("_v").isNotNull())
        )
        # 2. check against the accepted-history vector store
        cos = cosine_similarity(F.col("_v"), F.col("_s_v"))
        dup_ids = (
            buckets.join(
                store.select(F.col("_v").alias("_s_v"), "bucket"), "bucket"
            )
            .filter(cos >= threshold)
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
        survivors = pin(batch.join(dup_ids, id_col, "left_anti"))
        # 3. the survivors' signatures = their bucket rows (a semi-join,
        # not a second GEMM pass)
        return survivors, buckets.join(
            survivors.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        )

    return _store_join_ingest(
        points,
        store_dir,
        out_dir,
        checkpoint_dir,
        lambda b: f"_id {b.schema[id_col].dataType.simpleString()}, "
        f"_v {b.schema[vector_col].dataType.simpleString()}, bucket string",
        decide,
    )


def streaming_funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Stateful streaming funnel: per user, the running conversion depth
    through ``stages`` in strict timestamp order — the streaming twin of
    :func:`operators.temporal.funnel_stages`.

    State per user is one timestamp per REACHED stage — O(S) bounded
    regardless of stream length.  Each micro-batch sorts its rows by
    event time and advances the greedy chain: an event advances the
    funnel iff it is the next stage's type and strictly later than the
    previous stage's recorded time.  Processing in event-time order
    makes the greedy advance exactly the batch operator's
    earliest-qualifying-time semantics (the first stage-i event past
    the stage-(i-1) time IS the minimum) — asserted by the
    batch-equivalence test.  Late events older than an already-recorded
    stage time cannot retroactively improve it (bounded state is the
    trade; the batch operator is the replay tool when that matters).

    Emits ``(user, depth, reached_ts)`` after every batch that touches
    the user (update mode): current depth and the time the deepest
    stage was reached.  The user column keeps whatever type it has in
    ``events`` (bigint, string, UUID-as-string, ...) — the output schema
    is derived from ``events.schema``, not hard-coded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
        TimestampType,
    )

    if not stages:
        raise ValueError("stages must be non-empty")
    stage_of = {s: i for i, s in enumerate(stages)}
    out_schema = StructType(
        [
            StructField(user_col, events.schema[user_col].dataType),
            StructField("depth", IntegerType()),
            StructField("reached_ts", TimestampType()),
        ]
    )
    state_schema = "times array<bigint>"  # epoch micros per reached stage

    def update(key, pdfs, state):
        times = list(state.get[0]) if state.exists else []
        rows = []
        for pdf in pdfs:
            for ts, et in zip(pdf[ts_col], pdf[type_col]):
                if et in stage_of and not pd.isna(ts):
                    rows.append((pd.Timestamp(ts).value // 1000, et))
        rows.sort()
        for ts_us, et in rows:
            depth = len(times)
            if (
                depth < len(stages)
                and et == stages[depth]
                and (depth == 0 or ts_us > times[-1])
            ):
                times.append(ts_us)
        state.update((times,))
        yield pd.DataFrame(
            {
                user_col: [key[0]],
                "depth": [len(times)],
                "reached_ts": [
                    pd.Timestamp(times[-1] * 1000) if times else pd.NaT
                ],
            }
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
