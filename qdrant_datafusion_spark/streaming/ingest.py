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

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _guard_store_lifetime(spark, store_dir: str, batch_id: int) -> None:
    """Fail loudly if ``store_dir`` predates this checkpoint lifetime.

    The store-join ingests exclude the store partition whose
    ``_batch_id`` equals the current batch id (the at-least-once replay
    case: sinks wrote, checkpoint didn't commit).  That exclusion is
    only sound while batch ids are monotone within one checkpoint
    lifetime.  If a user deletes/resets the checkpoint directory but
    keeps the store, batch ids restart at 0 and genuinely-historical
    partitions alias the "my own replay" case — silently re-admitting
    duplicates.  Batch ids commit in order, so a store partition with
    ``_batch_id`` GREATER than the current batch id can only mean a
    reset: raise instead of corrupting the dedup contract.

    Cost: one driver-side directory listing (partition names only), no
    Spark job.  Residual (documented in each ingest's docstring): a
    reset after a single-batch history is indistinguishable from a
    legitimate replay of batch 0 by ids alone — a store directory is
    bound to ONE checkpoint lifetime.
    """
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = path.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
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

    Mechanics per batch (``foreachBatch`` — the canonical shape for
    join-against-growing-history logic Structured Streaming state can't
    express).  Each batch is read once, signed once and decided once:

    1. the micro-batch is pinned first and the empty check reads the
       pin, so the source is scanned exactly once per batch;
    2. one `_minhash_buckets` pass over the pin gives the pinned
       signature table ``(_id, _fp, bucket)`` — signatures are the
       expensive stage, everything downstream is bucket-keyed joins;
    3. from that one table: the in-batch near-dups (the capped bucket
       self-join of `minhash_lsh_dups`, exact-Jaccard verified, keep the
       min id) and the store near-dups (the signatures join the store
       on the bucket key with exact-Jaccard verification inside the
       join — the store carries the fingerprint sets, so verification
       needs no second lookup);
    4. one anti-join removes the union of both sets, and the survivors
       are pinned.  Checking the store against every batch signature,
       not only the in-batch survivors, leaves the survivors unchanged:
       ``batch − D1 − D2`` is the same set whichever side ``D2`` (the
       store dups) is computed over;
    5. the survivors append to ``out_dir``, and their signatures (the
       pinned signatures semi-joined to the pinned survivors) append to
       the store;
    6. every pin is released before the batch returns.  Pins are
       ``persist``, not ``localCheckpoint``: they keep their lineage, so
       a lost executor recomputes a block instead of failing the batch.

    The store is read with the signature table's schema plus
    ``_batch_id int``, so no footer or schema-inference job runs per
    batch.

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
    the store into bucket-sorted files or a table format).  ``foreachBatch`` is
    at-least-once, so both sinks write ``_batch_id``-partitioned parquet
    with dynamic partition overwrite: a replayed batch overwrites its own
    partition instead of appending twice — idempotent output without a
    table format.  The store directory is bound to ONE
    checkpoint lifetime: resetting the checkpoint against an
    existing store restarts batch ids at 0, aliasing historical
    partitions with the replay exclusion — ``_guard_store_lifetime``
    detects this (any store partition with a future batch id) and
    fails loudly instead of silently re-admitting duplicates.

    ``max_bucket_size`` caps the in-batch collapse's bucket join
    (same guard as `minhash_lsh_dups`); pass ``None`` for the exact
    uncapped contract
    (the oracle-graded gate does), or keep the cap in production where a
    degenerate hot band bucket must not go O(n²).  The store join is
    cap-free — the cap only affects the in-batch self-join of step 3.
    """
    from qdrant_datafusion_spark.operators.dedup import (
        _cap_hot_buckets,
        _minhash_buckets,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        pins: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            pins.append(df.persist())
            return df

        try:
            batch = pin(batch)
            if batch.isEmpty():
                return
            _guard_store_lifetime(spark, store_dir, int(batch_id))
            sigs = pin(
                _minhash_buckets(batch, content_col, id_col, k, num_hashes, bands)
            )
            # in-batch near-dups: the capped bucket self-join, keep the
            # smallest id (same kernel as minhash_lsh_dups)
            paired = _cap_hot_buckets(sigs, ["bucket"], max_bucket_size)
            dups = (
                paired.selectExpr("_id AS id_a", "_fp AS fp_a", "bucket")
                .join(paired.selectExpr("_id AS id_b", "_fp AS fp_b", "bucket"), "bucket")
                .filter(f"id_a < id_b AND {_jaccard_at_least('fp_a', 'fp_b', threshold)}")
                .selectExpr(f"id_b AS `{id_col}`")
            )
            # store near-dups.  Exclude THIS batch's own partition: on an
            # at-least-once replay (sinks written, checkpoint not
            # committed) the store already holds this batch's signatures
            # — without the filter every survivor would look like a dup.
            # The explicit schema spares a footer/inference job per batch.
            from pyspark.errors.exceptions.captured import AnalysisException
            from pyspark.sql.types import IntegerType, StructField, StructType

            store_schema = StructType(
                sigs.schema.fields + [StructField("_batch_id", IntegerType())]
            )
            try:
                store = (
                    spark.read.schema(store_schema)
                    .parquet(store_dir)
                    .filter(f"_batch_id != {int(batch_id)}")
                )
            except AnalysisException:  # first batch: PATH_NOT_FOUND only —
                store = None  # any other read failure must fail the batch
            if store is not None:
                dups = dups.unionByName(
                    sigs.join(store.selectExpr("_fp AS _s_fp", "bucket"), "bucket")
                    .filter(_jaccard_at_least("_fp", "_s_fp", threshold))
                    .selectExpr(f"_id AS `{id_col}`")
                )
            survivors = pin(batch.join(dups.distinct(), id_col, "left_anti"))

            # novel docs out; their signatures into the store — both keyed
            # by batch id so a replayed batch overwrites itself (idempotent)
            def sink(df: DataFrame, path: str) -> None:
                (
                    df.withColumn("_batch_id", F.lit(int(batch_id)))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(path)
                )

            sink(survivors, out_dir)
            sink(
                sigs.join(survivors.selectExpr(f"`{id_col}` AS _id"), "_id", "left_semi"),
                store_dir,
            )
        finally:
            # newest first: releasing a pin that a later pin's plan reads
            # would make Spark re-plan that later pin
            for df in reversed(pins):
                df.unpersist()

    return (
        points.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        kb = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(n_buckets))
        touched = sorted(
            int(r["_kb"])
            for r in batch.select(kb.alias("_kb")).distinct().collect()
        )  # bounded: <= n_buckets ints
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            store = spark.read.parquet(snapshot_dir).filter(
                F.col("_kb").isin(touched)
            )
        except AnalysisException:  # first batch: PATH_NOT_FOUND only
            store = None
        # snapshot schema = the batch's columns (full-row upserts, the
        # MERGE ... UPDATE SET * shape apply_changes implements)
        if store is None:
            store_subset = spark.createDataFrame([], batch.schema)
        else:
            store_subset = store.select(*batch.columns)
        merged = apply_changes(
            store_subset,
            batch,
            key_cols=keys,
            order_cols=order_cols,
            op_col=op_col,
            delete_ops=delete_ops,
        )
        out = merged.withColumn("_kb", kb).localCheckpoint(eager=True)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_kb")
            .parquet(snapshot_dir)
        )
        # dynamic overwrite only rewrites partitions PRESENT in the
        # output — a bucket whose every key was tombstoned this batch
        # produces no rows, so its stale partition must be dropped
        # explicitly (local-FS form; a production deployment layers a
        # table format whose MERGE handles emptied partitions natively,
        # or uses the Hadoop FileSystem API here)
        present = {
            int(r["_kb"]) for r in out.select("_kb").distinct().collect()
        }  # bounded: <= n_buckets ints
        import os as _os
        import shutil as _shutil

        for b in touched:
            if b not in present:
                _shutil.rmtree(
                    _os.path.join(snapshot_dir, f"_kb={b}"),
                    ignore_errors=True,
                )

    return (
        changes.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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

    Mechanics per batch (``foreachBatch`` — join-against-growing-history,
    same contract as :func:`stream_near_dup_ingest`):

    1. units posexplode ONCE (lazy localCheckpoint) to
       ``(id, pos, unit, xxhash64(norm))`` rows;
    2. in-batch first occurrence = the map-side-combining
       ``min(struct(id, pos))`` groupBy (boilerplate-skew-safe) + join
       back;
    3. store check: the batch's candidate hashes — already distinct and
       micro-batch-sized — BROADCAST against the store parquet (prior
       ``_batch_id`` partitions only, so a replayed batch never sees its
       own earlier write), which is scanned and never shuffled.  (The batch operator's Bloom tier is
       unnecessary here: its purpose is shrinking the probe broadcast,
       and a micro-batch's distinct unit hashes already fit one.)
    4. cleaned docs (``id, n_units, n_kept, kept_text``) to ``out_dir``,
       newly accepted unit hashes (``uh``) to ``store_dir`` — both
       ``_batch_id``-partitioned with dynamic partition overwrite, so a
       replayed batch overwrites itself (idempotent under foreachBatch's
       at-least-once contract).  The store directory is bound to ONE checkpoint
       lifetime (``_guard_store_lifetime`` fails loudly on a
       checkpoint reset against an existing store).

    The store is 8 bytes per distinct accepted unit — the xxhash64
    convention of the incremental batch operator (widen to md5 if a
    100 TB deployment's unit count makes 64-bit birthday collisions a
    concern).
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return
        unit_expr = (
            units if units is not None else F.split(F.col(text_col), sep)
        )

        def _norm(u):
            return F.lower(F.trim(u)) if normalize else u

        ex = (
            batch.select(F.col(id_col).alias("_id"), unit_expr.alias("_us"))
            .select(
                "_id",
                F.posexplode(
                    F.filter(F.col("_us"), lambda u: F.trim(u) != "")
                ).alias("_pos", "_u"),
            )
            .withColumn("_uh", F.xxhash64(_norm(F.col("_u"))))
            .localCheckpoint(eager=False)
        )
        firsts = ex.groupBy("_uh").agg(
            F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first")
        )
        flagged = ex.join(firsts, "_uh").withColumn(
            "_is_first",
            (F.col("_id") == F.col("_first._id"))
            & (F.col("_pos") == F.col("_first._pos")),
        )
        from pyspark.errors.exceptions.captured import AnalysisException

        _guard_store_lifetime(spark, store_dir, int(batch_id))
        try:
            # Exclude THIS batch's own partition: on an at-least-once
            # replay (failure after the sinks wrote but before the
            # checkpoint committed) the store already holds this batch's
            # accepted hashes — reading them back would mark every unit
            # a duplicate and dynamic-overwrite out_dir with empty rows.
            store = (
                spark.read.parquet(store_dir)
                .filter(F.col("_batch_id") != F.lit(int(batch_id)))
                .select("uh")
            )
        except AnalysisException:  # first batch: PATH_NOT_FOUND only —
            store = None  # any other read failure must fail the batch
        if store is not None:
            cand = (
                flagged.filter("_is_first")
                .select(F.col("_uh").alias("uh"))
                .distinct()
            )
            matched = (
                store.join(F.broadcast(cand), "uh")
                .distinct()
                .withColumnRenamed("uh", "_uh")
                .withColumn("_in_store", F.lit(True))
            )
            flagged = flagged.join(F.broadcast(matched), "_uh", "left")
            kept = F.col("_is_first") & F.col("_in_store").isNull()
        else:
            kept = F.col("_is_first")
        # pin once: the docs sink and the store sink are two actions —
        # without the pin each would re-run the explode + both joins
        flagged = flagged.withColumn("_kept", kept).localCheckpoint(
            eager=True
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
        new_hashes = (
            flagged.filter("_kept").select(F.col("_uh").alias("uh")).distinct()
        )

        def sink(df: DataFrame, path: str) -> None:
            (
                df.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(path)
            )

        sink(out, out_dir)
        sink(new_hashes, store_dir)

    return (
        points.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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

    Mechanics per batch (``foreachBatch``):

    1. in-batch collapse via the batch operator
       :func:`~qdrant_datafusion_spark.operators.dedup.embedding_near_dups`
       with the same planes (keep the smallest id per near-pair);
    2. survivors' LSH buckets join the store on the bucket key; the
       exact sequential-fold cosine kernel verifies candidates inside
       the join (the store carries vectors, so no second lookup);
    3. novel rows and their bucket signatures append, both
       ``_batch_id``-partitioned with dynamic overwrite — a replayed
       batch overwrites itself (idempotent, the at-least-once contract).  The store directory is bound to ONE checkpoint
       lifetime (``_guard_store_lifetime`` fails loudly on a
       checkpoint reset against an existing store).

    ``bucket_planes`` defaults to
    :func:`~qdrant_datafusion_spark.operators.dedup.auto_bucket_planes`
    sized for a million-row store — pass corpus-scaled planes at real
    scale, exactly like the batch operator.  Every shuffle keys on the
    bucket; vectors travel only store→join, never pairwise.
    """
    from qdrant_datafusion_spark.functions.distance import dot_product, norm
    from qdrant_datafusion_spark.operators.dedup import (
        _make_lsh_bucket_udf,
        auto_bucket_planes,
        embedding_near_dups,
    )

    # default planes need the vector dim — resolved lazily from the first
    # non-null row of each batch rather than the stream schema (which a
    # file source reports, but a socket/rate-shaped source may not)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.take(1):
            return

        def sink(df: DataFrame, path: str) -> None:
            (
                df.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(path)
            )

        first = batch.select(vector_col).filter(F.col(vector_col).isNotNull()).take(1)
        if not first:
            # every vector NULL: nothing to hash, nothing can be a dup —
            # the rows still survive (the oracle keeps NULL-embedding rows)
            # with an empty bucket signature set, so the store stays
            # schema-stable for later batches.
            sink(batch, out_dir)
            sink(
                batch.select(
                    F.col(id_col).alias("_id"),
                    F.col(vector_col).alias("_v"),
                    F.lit(None).cast("string").alias("bucket"),
                ).filter(F.lit(False)),
                store_dir,
            )
            return
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

        def buckets_of(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(id_col).alias("_id"),
                F.col(vector_col).alias("_v"),
                F.explode(bucket_udf(F.col(vector_col))).alias("bucket"),
            ).filter(F.col("_v").isNotNull())

        buckets = buckets_of(batch)
        # 2. check against the accepted-history vector store — prior
        # batches only (see the near-dup ingest replay note above)
        from pyspark.errors.exceptions.captured import AnalysisException

        _guard_store_lifetime(spark, store_dir, int(batch_id))
        try:
            store = spark.read.parquet(store_dir).filter(
                F.col("_batch_id") != F.lit(int(batch_id))
            )
        except AnalysisException:  # first batch: PATH_NOT_FOUND only —
            store = None  # any other read failure must fail the batch
        if store is not None:
            cos = F.try_divide(
                dot_product(F.col("_v"), F.col("_s_v")),
                norm(F.col("_v")) * norm(F.col("_s_v")),
            )
            dup_ids = (
                buckets.join(
                    store.select(
                        F.col("_id").alias("_s_id"),
                        F.col("_v").alias("_s_v"),
                        "bucket",
                    ),
                    "bucket",
                )
                .filter(cos >= threshold)
                .select(F.col("_id").alias(id_col))
                .distinct()
            )
            batch = batch.join(dup_ids, id_col, "left_anti")
        # pin survivors once — the two sink actions below would otherwise
        # each re-run the LSH/self-join/store-join lineage (batch-sized
        # executor state, the micro-batch contract)
        batch = batch.localCheckpoint(eager=True)
        # survivors' signatures = the pre-store-filter bucket rows
        # filtered to surviving ids (semi-join, not a second GEMM pass)
        buckets = buckets.join(
            batch.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        )
        # 3. novel rows out; their vector signatures into the store
        sink(batch, out_dir)
        sink(buckets, store_dir)

    return (
        points.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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
