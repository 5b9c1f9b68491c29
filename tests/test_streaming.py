"""Structured Streaming tests: file source → transform → memory/parquet
sink, driven synchronously with availableNow/processAllAvailable."""

from __future__ import annotations

from collections import namedtuple

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qdrant_datafusion_spark.streaming import (
    sessionized_counts,
    stream_apply_changes,
    stream_collection_writer,
    stream_dedup_exact,
    stream_near_dup_ingest,
    stream_paragraph_ingest,
    stream_semantic_ingest,
    windowed_event_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture()
def event_stream(spark, tmp_path):
    """A small deterministic event stream materialized as parquet then read
    back as a file-source stream (events.parquet has nanos timestamps that
    the streaming parquet source rejects, so we build our own)."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:02:00", 1, "click", 2.0, "{}"),
        (3, "2024-01-01 10:03:00", 2, "view", 3.0, "{}"),
        (4, "2024-01-01 11:30:00", 1, "click", 4.0, "{}"),
        (5, "2024-01-01 11:31:00", 2, "view", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, e, v, p) for i, ts, u, e, v, p in rows],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "stream_src")
    df.coalesce(1).write.parquet(path)
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def _run_to_memory(stream_df, spark, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


class TestWindowedAgg:
    def test_tumbling_counts(self, spark, event_stream):
        # complete mode: append would withhold the final window until a
        # later batch advances the watermark past it
        agg = windowed_event_counts(event_stream, window="5 minutes")
        out = _run_to_memory(agg, spark, "win_counts", "complete").collect()
        by = {(r.window_start.strftime("%H:%M"), r.event_type): r.n for r in out}
        assert by[("10:00", "click")] == 2
        assert by[("10:00", "view")] == 1
        assert by[("11:30", "click")] == 1


class TestSessionWindow:
    def test_sessionization(self, spark, event_stream):
        agg = sessionized_counts(event_stream, gap="30 minutes")
        out = _run_to_memory(agg, spark, "sessions", "complete").collect()
        per_user = {}
        for r in out:
            per_user.setdefault(r.user_id, []).append(r.n_events)
        # user 1: events at 10:00/10:02 (one session) + 11:30 (another)
        assert sorted(per_user[1]) == [1, 2]
        assert sorted(per_user[2]) == [1, 1]


class TestStreamDedup:
    def test_dedup_drops_repeat_content(self, spark, tmp_path):
        rows = [(1, "same text"), (2, "same text"), (3, "other text")]
        df = spark.createDataFrame(rows, "id long, text string")
        path = str(tmp_path / "dedup_src")
        df.coalesce(1).write.parquet(path)
        stream = spark.readStream.schema("id long, text string").parquet(path)
        deduped = stream_dedup_exact(stream, "text")
        out = _run_to_memory(deduped, spark, "dedup_out", "append").collect()
        texts = sorted(r.text for r in out)
        assert texts == ["other text", "same text"]


class TestCollectionSink:
    def test_stream_into_collection_dir(self, spark, tmp_path, event_stream):
        coll = str(tmp_path / "coll")
        ckpt = str(tmp_path / "ckpt")
        q = stream_collection_writer(
            event_stream.select(
                F.col("event_id").cast("string").alias("id"),
                F.col("props").alias("payload"),
                F.array(F.col("value").cast("float")).alias("vector"),
            ),
            coll,
            ckpt,
        )
        q.awaitTermination(120)
        back = spark.read.parquet(coll)
        assert back.count() == 5
        assert sorted(back.columns) == ["id", "payload", "vector"]


class TestStreamingTopK:
    def test_running_topk_merges_state_across_batches(self, spark, tmp_path):
        from qdrant_datafusion_spark.streaming import streaming_topk

        src = str(tmp_path / "topk_src")
        cols = "event_id long, ts string, user_id long, event_type string, value double, props string"
        batch1 = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 10:02:00", 1, "click", 2.0, "{}"),
                (3, "2024-01-01 10:03:00", 2, "view", 3.0, "{}"),
            ],
            cols,
        ).withColumn("ts", F.to_timestamp("ts"))
        batch2 = spark.createDataFrame(
            [
                (4, "2024-01-01 11:30:00", 1, "click", 4.0, "{}"),
                (5, "2024-01-01 11:31:00", 2, "view", 5.0, "{}"),
            ],
            cols,
        ).withColumn("ts", F.to_timestamp("ts"))
        batch1.coalesce(1).write.parquet(src)
        batch2.coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_topk(stream, k=2)
        rows = _run_to_memory(out, spark, "topk_sink", "update").collect()

        # the final click ranking must contain id 4 (batch 2, value 4.0) at
        # rank 1 AND id 2 (batch 1, value 2.0) demoted to rank 2 — the
        # demotion can only happen if batch-1 state survived into batch 2
        got = {(r.event_type, r.event_id, r.rank) for r in rows}
        assert ("click", 4, 1) in got
        assert ("click", 2, 2) in got
        # k=2 caps state: id 1 (value 1.0) must never appear at rank <= 2
        # after batch 2; it may only show from batch 1 (rank 2 then)
        assert ("click", 1, 1) not in got


class TestCollectionStreamSource:
    def test_stream_reads_only_new_fragments(self, spark, tmp_path):
        from qdrant_datafusion_spark.sources.collection_source import (
            register_collection_source,
        )

        register_collection_source(spark)
        coll = str(tmp_path / "coll_stream")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")
        df1 = spark.createDataFrame(
            [("1", "{}", [0.1, 0.2]), ("2", "{}", [0.3, 0.4])],
            "id string, payload string, vector array<float>",
        )
        df1.coalesce(1).write.parquet(coll)

        def run_batch():
            q = (
                spark.readStream.format("qdrant_collection")
                .option("path", coll)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return sorted(r.id for r in spark.read.parquet(out).collect())

        assert run_batch() == ["1", "2"]
        # a new fragment arrives; the same checkpoint picks up ONLY it —
        # ids 1/2 appear once in the sink, proving offset-based replay
        spark.createDataFrame(
            [("3", "{}", [0.5, 0.6])],
            "id string, payload string, vector array<float>",
        ).coalesce(1).write.mode("append").parquet(coll)
        assert run_batch() == ["1", "2", "3"]


class TestStreamingPipelineStages:
    """The stateless dataset-assembly stages are pure narrow maps, so they
    compose with readStream unchanged — split/mix/score a corpus as it
    lands, no batch re-run."""

    def test_split_mix_score_on_a_stream(self, spark, tmp_path):
        from qdrant_datafusion_spark.operators.pipeline import (
            hash_split,
            mix_datasets,
            repetition_stats,
        )

        df = spark.createDataFrame(
            [(i, f"src{i % 2}", "spark spark spark row " + str(i)) for i in range(40)],
            "doc_id long, source string, text string",
        )
        path = str(tmp_path / "docs_src")
        df.coalesce(1).write.parquet(path)
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).parquet(path)

        staged = mix_datasets(
            hash_split(stream, "doc_id", {"train": 0.8, "val": 0.2}, seed="st"),
            {"src0": 2.0, "src1": 1.0},
            seed="st",
        )
        out = _run_to_memory(staged, spark, "pipe_stages", "append").collect()
        # src0 rows duplicated, src1 kept once: 20*2 + 20*1
        assert len(out) == 60
        # assignments identical to the batch run of the same stages
        batch = mix_datasets(
            hash_split(df, "doc_id", {"train": 0.8, "val": 0.2}, seed="st"),
            {"src0": 2.0, "src1": 1.0},
            seed="st",
        ).collect()
        assert sorted((r.doc_id, r.split, r.copy_idx) for r in out) == sorted(
            (r.doc_id, r.split, r.copy_idx) for r in batch
        )
        # repetition stats also run stream-side (narrow projection)
        stats = _run_to_memory(
            repetition_stats(stream), spark, "pipe_rep", "append"
        ).collect()
        assert len(stats) == 40 and all(r.n_tokens == 5 for r in stats)


#: one input per foreachBatch body: the output directory is ``out``;
#: ``kept`` selects the accepted rows, keyed by ``key``, after the first
#: two batches (3 and 4 rows) and after all four (3, 4, 2 and 1 rows)
Body = namedtuple("Body", "schema batches start key kept after_two after_four")

DOC_BATCHES = [
    [(1, "the quick brown fox jumps over the lazy dog near the barn"),
     (2, "completely unrelated content about spark query planning"),
     (3, "the quick brown fox jumps over the lazy dog near the farm")],
    [(4, "the quick brown fox jumps over the lazy dog near the barn"),
     (5, "a genuinely new document discussing vector quantization tiers"),
     (6, "a genuinely new document discussing vector quantization tiers today"),
     (7, "another novel text about bucket joins and signature stores")],
    [(8, "completely unrelated content about spark query planning"),
     (9, "short")],
    [(10, "one more fresh document about streaming micro batch pins")],
]

FOREACH_BATCH_BODIES = [
    pytest.param(
        Body(
            "doc_id long, text string", DOC_BATCHES,
            lambda s, d: stream_near_dup_ingest(
                s, d("store"), d("out"), d("ckpt"), threshold=0.5
            ),
            "doc_id", "true", [1, 2, 5, 7], [1, 2, 5, 7, 9, 10],
        ),
        id="near_dup",
    ),
    pytest.param(
        # each text is one unit; a repeated text keeps none of it
        Body(
            "doc_id long, text string", DOC_BATCHES,
            lambda s, d: stream_paragraph_ingest(s, d("store"), d("out"), d("ckpt")),
            "doc_id", "n_kept > 0", [1, 2, 3, 5, 6, 7], [1, 2, 3, 5, 6, 7, 9, 10],
        ),
        id="paragraph",
    ),
    pytest.param(
        Body(
            "vec_id long, embedding array<float>",
            [
                [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
                 (3, [1.0, 0.02, 0.0, 0.0])],
                [(4, [1.0, 0.0, 0.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0]),
                 (6, [0.0, 0.0, 1.0, 0.01]), (7, [0.0, 0.0, 0.0, 1.0])],
                [(8, [0.0, 1.0, 0.0, 0.0]), (9, [1.0, 1.0, 0.0, 0.0])],
                [(10, [0.0, 1.0, 1.0, 0.0])],
            ],
            lambda s, d: stream_semantic_ingest(
                s, d("store"), d("out"), d("ckpt"), threshold=0.99
            ),
            "vec_id", "true", [1, 2, 5, 7], [1, 2, 5, 7, 9, 10],
        ),
        id="semantic",
    ),
    pytest.param(
        Body(
            "k long, seq long, op string, val string",
            [
                [(1, 10, "upsert", "a"), (2, 11, "upsert", "b"),
                 (3, 12, "upsert", "c")],
                [(1, 20, "upsert", "a2"), (2, 21, "delete", None),
                 (4, 22, "upsert", "d"), (4, 23, "upsert", "d2")],
                [(5, 30, "upsert", "e"), (3, 31, "delete", None)],
                [(6, 40, "upsert", "f")],
            ],
            lambda s, d: stream_apply_changes(
                s, d("out"), d("ckpt"), key_cols=["k"], order_cols=["seq"],
                op_col="op", n_buckets=8,
            ),
            "k", "true", [1, 3, 4], [1, 4, 5, 6],
        ),
        id="apply_changes",
    ),
]


class TestStreamNearDupIngest:
    def test_cross_batch_near_dups_are_dropped(self, spark, tmp_path):
        """Two file-source batches: batch 2 contains a near-copy of a
        batch-1 doc (one word changed), an exact copy, and a novel doc —
        only the novel doc survives; in-batch near-dups also collapse."""
        from qdrant_datafusion_spark.streaming.ingest import stream_near_dup_ingest

        base = (
            "the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill every single morning"
        )
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")

        b1 = spark.createDataFrame(
            [(1, base), (2, "completely unrelated content about spark query planning and shuffles here")],
            "doc_id long, text string",
        )
        b1.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_near_dup_ingest(
            stream, store, out, ckpt, threshold=0.5,
        )
        q.awaitTermination(120)
        first = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert first == {1, 2}

        near = base.replace("morning", "evening")
        b2 = spark.createDataFrame(
            [
                (10, near),                      # near-dup of doc 1 -> drop
                (11, base),                      # exact dup of doc 1 -> drop
                (12, "a genuinely new document discussing vector quantization tiers"),
                (13, "a genuinely new document discussing vector quantization tiers today"),  # near-dup of 12 in-batch
            ],
            "doc_id long, text string",
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        q = stream_near_dup_ingest(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            store, out, ckpt, threshold=0.5,
        )
        q.awaitTermination(120)
        accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert accepted == {1, 2, 12}
        # the store now carries signatures for every accepted doc
        store_ids = {r._id for r in spark.read.parquet(store).collect()}
        assert store_ids == {1, 2, 12}

    def test_replay_is_idempotent(self, spark, tmp_path):
        """A fresh checkpoint re-delivers the same file = an at-least-once
        replay AFTER the sinks wrote batch 0.  The replayed batch must
        not see its own earlier store write (else every survivor looks
        like a near-dup of itself) — out and store stay identical."""
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_near_dup_ingest,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        schema = "doc_id long, text string"
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog near the barn"),
             (2, "completely unrelated content about spark query planning")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        def drain(ck):
            q = stream_near_dup_ingest(
                spark.readStream.schema(schema).parquet(src),
                store, out, str(tmp_path / ck), threshold=0.5,
            )
            assert q.awaitTermination(120)

        drain("ck1")
        out_first = sorted(
            map(tuple, spark.read.parquet(out).drop("_batch_id").collect())
        )
        store_first = sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        )
        assert {r[0] for r in out_first} == {1, 2}
        drain("ck2")
        assert sorted(
            map(tuple, spark.read.parquet(out).drop("_batch_id").collect())
        ) == out_first
        assert sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        ) == store_first

    def test_checkpoint_reset_against_store_fails_loudly(
        self, spark, tmp_path
    ):
        """A checkpoint reset after a MULTI-batch history restarts batch
        ids at 0 while the store still holds _batch_id=1 — the replay
        exclusion would alias history as 'my own replay' and re-admit
        dups.  _guard_store_lifetime must fail the batch instead."""
        import pytest
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from qdrant_datafusion_spark.streaming.ingest import (
            stream_near_dup_ingest,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        schema = "doc_id long, text string"

        def drain(ck):
            q = stream_near_dup_ingest(
                spark.readStream.schema(schema).parquet(src),
                store, out, str(tmp_path / ck), threshold=0.5,
            )
            assert q.awaitTermination(120)

        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog near the barn")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        drain("ck1")
        spark.createDataFrame(
            [(2, "completely unrelated content about spark query planning")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        drain("ck1")  # same checkpoint: batch 1 -> store has _batch_id=1
        with pytest.raises(StreamingQueryException, match="checkpoint"):
            drain("ck_reset")  # fresh checkpoint restarts at batch 0


    @staticmethod
    def _file_stream(spark, tmp_path, schema, batches):
        """One source file per batch, read one file per trigger."""
        src = str(tmp_path / "src")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    @classmethod
    def _drain(cls, spark, tmp_path, body, batches):
        """Run ``body`` over ``batches``; returns the query and the sorted
        keys of the output rows that ``body.kept`` selects."""
        q = body.start(
            cls._file_stream(spark, tmp_path, body.schema, batches),
            lambda name: str(tmp_path / name),
        )
        assert q.awaitTermination(120)
        out = spark.read.parquet(str(tmp_path / "out")).where(body.kept)
        return q, sorted(r[body.key] for r in out.collect())

    @pytest.mark.parametrize("body", FOREACH_BATCH_BODIES)
    def test_each_batch_reads_its_source_once(self, spark, tmp_path, body):
        """Every step of a batch scans the pinned micro-batch, not the
        source: a batch's numInputRows equals its source file's rows
        (an unpinned body re-reads the source once per action)."""
        q, kept = self._drain(spark, tmp_path, body, body.batches[:2])
        assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [3, 4]
        assert kept == body.after_two

    @pytest.mark.parametrize("body", FOREACH_BATCH_BODIES)
    def test_batches_release_their_pins(self, spark, tmp_path, body):
        """Every pin a batch makes is released before the batch returns:
        after four batches the context caches no RDD it did not cache
        before the stream (ids, not a count: JVM GC may drop RDDs that
        earlier work left cached)."""

        def cached_rdds():
            return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

        before = cached_rdds()
        q, kept = self._drain(spark, tmp_path, body, body.batches)
        assert len([p for p in q.recentProgress if p.numInputRows]) == 4
        assert cached_rdds() - before == set()
        assert kept == body.after_four


class TestStreamApplyChanges:
    SCHEMA = "k long, seq long, op string, val string"

    def _drain(self, spark, src, snap, ckpt):
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_apply_changes,
        )

        q = stream_apply_changes(
            spark.readStream.schema(self.SCHEMA).parquet(src),
            snap,
            ckpt,
            key_cols=["k"],
            order_cols=["seq"],
            op_col="op",
            n_buckets=8,
        )
        assert q.awaitTermination(120)

    def test_cross_batch_merge_equals_batch_fold(self, spark, tmp_path):
        from qdrant_datafusion_spark.operators.cdc import (
            cdc_latest_snapshot,
        )

        src = str(tmp_path / "src")
        snap = str(tmp_path / "snap")
        b1 = [(1, 10, "upsert", "a"), (2, 11, "upsert", "b"),
              (3, 12, "upsert", "c")]
        b2 = [(1, 20, "upsert", "a2"),          # update
              (2, 21, "delete", None),          # tombstone
              (4, 22, "upsert", "d"),           # insert
              (4, 23, "upsert", "d2")]          # in-batch latest wins
        spark.createDataFrame(b1, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, str(tmp_path / "ck1"))
        spark.createDataFrame(b2, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, str(tmp_path / "ck2"))
        got = {
            r["k"]: (r["seq"], r["val"])
            for r in spark.read.parquet(snap).collect()
        }
        full = spark.createDataFrame(b1 + b2, self.SCHEMA)
        want = {
            r["k"]: (r["seq"], r["val"])
            for r in cdc_latest_snapshot(
                full, ["k"], ["seq"], op_col="op"
            ).collect()
        }
        assert got == want == {
            1: (20, "a2"), 3: (12, "c"), 4: (23, "d2")
        }

    def test_replay_is_idempotent(self, spark, tmp_path):
        src = str(tmp_path / "src")
        snap = str(tmp_path / "snap")
        rows = [(1, 10, "upsert", "a"), (2, 11, "delete", None)]
        spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, str(tmp_path / "ck1"))
        first = sorted(map(tuple, spark.read.parquet(snap).collect()))
        # a fresh checkpoint re-delivers the same file = an at-least-once
        # replay; the MERGE must leave the store byte-identical
        self._drain(spark, src, snap, str(tmp_path / "ck2"))
        assert sorted(map(tuple, spark.read.parquet(snap).collect())) == first

    def test_checkpoint_reset_replay_converges_through_regression(
        self, spark, tmp_path
    ):
        """The FULL checkpoint-reset scenario the docstring argues is
        safe for a MERGE sink (and unsafe for the store-join ingests):
        after two applied batches, wipe the checkpoint and re-deliver
        the whole log ONE FILE PER BATCH — the first replayed batch
        merges OLD changes onto the NEWER snapshot (transiently
        regressing k=1 and reviving tombstoned k=2), and the second
        must restore the exact converged state, delete included."""
        import shutil

        src = str(tmp_path / "src")
        snap = str(tmp_path / "snap")
        b1 = [(1, 10, "upsert", "a"), (2, 11, "upsert", "b"),
              (3, 12, "upsert", "c")]
        b2 = [(1, 20, "upsert", "a2"), (2, 21, "delete", None),
              (4, 22, "upsert", "d")]
        ck = str(tmp_path / "ck")
        spark.createDataFrame(b1, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, ck)
        spark.createDataFrame(b2, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, ck)
        converged = sorted(map(tuple, spark.read.parquet(snap).collect()))
        assert {t[0] for t in converged} == {1, 3, 4}  # k=2 tombstoned
        # reset: new checkpoint, one source file per micro-batch so the
        # b1 prefix really is merged into the already-current snapshot
        shutil.rmtree(ck)
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_apply_changes,
        )

        q = stream_apply_changes(
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            snap,
            str(tmp_path / "ck_reset"),
            key_cols=["k"],
            order_cols=["seq"],
            op_col="op",
            n_buckets=8,
        )
        assert q.awaitTermination(120)
        assert (
            sorted(map(tuple, spark.read.parquet(snap).collect()))
            == converged
        )

    def test_tombstoned_bucket_dropped_under_a_uri_snapshot_dir(
        self, spark, tmp_path
    ):
        """A bucket whose every key is tombstoned is deleted through
        Hadoop's FileSystem, so a ``file://`` snapshot dir drops it just
        as a plain path does (a local-path delete is a silent no-op on
        a URI, which resurrects the deleted key)."""
        src = str(tmp_path / "src")
        snap = (tmp_path / "snap").as_uri()
        ck = str(tmp_path / "ck")
        for rows in (
            [(1, 10, "upsert", "a"), (2, 11, "upsert", "b")],
            [(1, 20, "delete", None)],  # k=1 is alone in its bucket
        ):
            spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            self._drain(spark, src, snap, ck)
        assert sorted(r["k"] for r in spark.read.parquet(snap).collect()) == [2]

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        import glob
        import os as _os

        src = str(tmp_path / "src")
        snap = str(tmp_path / "snap")
        ck = str(tmp_path / "ck")  # SHARED checkpoint: the second drain
        # must see only the new file (a fresh checkpoint would re-deliver
        # everything and legitimately rewrite every bucket)
        b1 = [(i, 10, "upsert", f"v{i}") for i in range(32)]
        spark.createDataFrame(b1, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        self._drain(spark, src, snap, ck)
        mtimes_before = {
            d: _os.stat(d).st_mtime_ns
            for d in glob.glob(_os.path.join(snap, "_kb=*"))
        }
        assert len(mtimes_before) > 1  # keys spread over several buckets
        # second batch touches ONE key -> only its bucket may change
        spark.createDataFrame(
            [(5, 20, "upsert", "v5b")], self.SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        self._drain(spark, src, snap, ck)
        changed = {
            d
            for d in glob.glob(_os.path.join(snap, "_kb=*"))
            if _os.stat(d).st_mtime_ns != mtimes_before.get(d)
        }
        assert len(changed) == 1
        got = {
            r["k"]: r["val"] for r in spark.read.parquet(snap).collect()
        }
        assert got[5] == "v5b" and len(got) == 32


class TestStreamParagraphIngest:
    def test_cross_batch_paragraph_dedup(self, spark, tmp_path):
        """Two file-source batches: batch-2 docs lose every unit already
        accepted in batch 1 (and in-batch repeats), keep novel units;
        the store carries one hash per accepted distinct unit."""
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_paragraph_ingest,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        schema = "doc_id long, text string"

        b1 = spark.createDataFrame(
            [(1, "alpha beta\ngamma delta"), (2, "gamma delta\nepsilon")],
            schema,
        )
        b1.coalesce(1).write.mode("append").parquet(src)
        q = stream_paragraph_ingest(
            spark.readStream.schema(schema).parquet(src), store, out, ckpt
        )
        q.awaitTermination(120)
        first = {
            r["doc_id"]: (r["n_units"], r["n_kept"], r["kept_text"])
            for r in spark.read.parquet(out).collect()
        }
        # in-batch: doc 2's 'gamma delta' loses to doc 1 pos 1
        assert first == {
            1: (2, 2, "alpha beta gamma delta"),
            2: (2, 1, "epsilon"),
        }
        # store: one hash per accepted distinct unit
        assert spark.read.parquet(store).count() == 3

        b2 = spark.createDataFrame(
            [
                (10, "alpha beta\nnovel unit"),   # first unit in store
                (11, "novel unit\nanother new"),  # in-batch dup of doc 10
            ],
            schema,
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        q = stream_paragraph_ingest(
            spark.readStream.schema(schema).parquet(src), store, out, ckpt
        )
        q.awaitTermination(120)
        rows = {
            r["doc_id"]: (r["n_units"], r["n_kept"], r["kept_text"])
            for r in spark.read.parquet(out).collect()
        }
        assert rows[10] == (2, 1, "novel unit")
        assert rows[11] == (2, 1, "another new")
        # store grew by exactly the two newly accepted units
        assert spark.read.parquet(store).count() == 5
        # sequential result == one global first-occurrence pass in
        # arrival order over the concatenated batches
        from qdrant_datafusion_spark.operators.dedup import (
            paragraph_dedup_global,
        )

        all_docs = spark.createDataFrame(
            [(1, "alpha beta\ngamma delta"), (2, "gamma delta\nepsilon"),
             (10, "alpha beta\nnovel unit"), (11, "novel unit\nanother new")],
            schema,
        )
        batch_equiv = {
            r["doc_id"]: (r["n_units"], r["n_kept"], r["kept_text"])
            for r in paragraph_dedup_global(all_docs).collect()
        }
        assert batch_equiv == {**first, **rows}

    def test_replay_is_idempotent(self, spark, tmp_path):
        """A fresh checkpoint re-delivers the same file = an at-least-once
        replay AFTER the sinks already wrote batch 0.  The replayed batch
        must not see its own earlier store write (else every unit looks
        'already in store' and out_dir is overwritten with n_kept=0
        rows) — out and store must stay byte-identical."""
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_paragraph_ingest,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        schema = "doc_id long, text string"
        spark.createDataFrame(
            [(1, "alpha beta\ngamma delta"), (2, "gamma delta\nepsilon")],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        def drain(ckpt):
            q = stream_paragraph_ingest(
                spark.readStream.schema(schema).parquet(src),
                store,
                out,
                str(tmp_path / ckpt),
            )
            assert q.awaitTermination(120)

        drain("ck1")
        out_first = sorted(
            map(tuple, spark.read.parquet(out).drop("_batch_id").collect())
        )
        store_first = sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        )
        assert any(r[2] > 0 for r in out_first)  # n_kept nonzero pre-replay
        drain("ck2")
        assert sorted(
            map(tuple, spark.read.parquet(out).drop("_batch_id").collect())
        ) == out_first
        assert sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        ) == store_first


class TestStreamSemanticIngest:
    def test_cross_batch_semantic_dups_are_dropped(self, spark, tmp_path):
        """Two file-source batches of embeddings: batch 2 carries a
        near-identical vector of an accepted batch-1 row (cos > 0.99),
        an exact copy, and a genuinely different vector — only the
        different one survives; in-batch semantic dups also collapse."""
        from qdrant_datafusion_spark.streaming.ingest import stream_semantic_ingest

        def roww(vid, v):
            return (vid, [float(x) for x in v])

        base = [1.0, 0.0, 0.0, 0.0]
        other = [0.0, 1.0, 0.0, 0.0]
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        schema = "vec_id long, embedding array<float>"

        b1 = spark.createDataFrame([roww(1, base), roww(2, other)], schema)
        b1.coalesce(1).write.mode("append").parquet(src)
        q = stream_semantic_ingest(
            spark.readStream.schema(schema).parquet(src),
            store, out, ckpt, threshold=0.99,
        )
        q.awaitTermination(120)
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 2}

        near = [1.0, 0.02, 0.0, 0.0]          # cos ~0.9998 with base
        novel = [0.0, 0.0, 1.0, 0.0]
        b2 = spark.createDataFrame(
            [
                roww(10, near),               # semantic dup of 1 -> drop
                roww(11, base),               # exact dup of 1 -> drop
                roww(12, novel),
                roww(13, [0.0, 0.0, 1.0, 0.01]),  # in-batch dup of 12 -> drop
            ],
            schema,
        )
        b2.coalesce(1).write.mode("append").parquet(src)
        q = stream_semantic_ingest(
            spark.readStream.schema(schema).parquet(src),
            store, out, ckpt, threshold=0.99,
        )
        q.awaitTermination(120)
        accepted = {r.vec_id for r in spark.read.parquet(out).collect()}
        assert accepted == {1, 2, 12}
        store_ids = {r._id for r in spark.read.parquet(store).collect()}
        assert store_ids == {1, 2, 12}

    def test_replay_is_idempotent(self, spark, tmp_path):
        """Replay safety for the vector-store form: a fresh checkpoint
        re-delivers batch 0 after its sinks wrote; the batch must not
        match against its own earlier store partition."""
        from qdrant_datafusion_spark.streaming.ingest import (
            stream_semantic_ingest,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        store = str(tmp_path / "store")
        schema = "vec_id long, embedding array<float>"
        spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

        def drain(ck):
            q = stream_semantic_ingest(
                spark.readStream.schema(schema).parquet(src),
                store, out, str(tmp_path / ck), threshold=0.99,
            )
            assert q.awaitTermination(120)

        drain("ck1")
        out_first = sorted(
            r.vec_id for r in spark.read.parquet(out).collect()
        )
        store_first = sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        )
        assert out_first == [1, 2]
        drain("ck2")
        assert sorted(
            r.vec_id for r in spark.read.parquet(out).collect()
        ) == out_first
        assert sorted(
            map(tuple, spark.read.parquet(store).drop("_batch_id").collect())
        ) == store_first


class TestStreamingFunnel:
    def test_cross_batch_progression_matches_batch_operator(self, spark, tmp_path):
        from qdrant_datafusion_spark.operators.temporal import funnel_stages
        from qdrant_datafusion_spark.streaming import streaming_funnel

        stages = ["view", "click", "purchase"]
        cols = "event_id long, ts string, user_id long, event_type string, value double, props string"
        # user 1 converts fully but across batches; user 2's click arrives
        # BEFORE its view (no progression past view); user 3 views only
        batch1 = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
                (2, "2024-01-01 09:00:00", 2, "click", 0.0, "{}"),
                (3, "2024-01-01 10:00:00", 3, "view", 0.0, "{}"),
            ],
            cols,
        ).withColumn("ts", F.to_timestamp("ts"))
        batch2 = spark.createDataFrame(
            [
                (4, "2024-01-01 10:05:00", 1, "click", 0.0, "{}"),
                (5, "2024-01-01 10:06:00", 1, "purchase", 0.0, "{}"),
                (6, "2024-01-01 10:00:00", 2, "view", 0.0, "{}"),
                (7, "2024-01-01 10:07:00", 3, "error", 0.0, "{}"),
            ],
            cols,
        ).withColumn("ts", F.to_timestamp("ts"))
        src = str(tmp_path / "funnel_src")
        batch1.coalesce(1).write.parquet(src)
        batch2.coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = streaming_funnel(stream, stages)
        rows = _run_to_memory(out, spark, "funnel_sink", "update").collect()
        # last emission per user = final depth
        final = {}
        for r in rows:
            final[r.user_id] = max(final.get(r.user_id, 0), r.depth)
        # cross-batch: user 1's purchase in batch 2 builds on batch-1 view
        assert final == {1: 3, 2: 1, 3: 1}

        # equivalence with the batch operator over the full event set
        all_events = batch1.unionByName(batch2)
        batch_counts = {
            r.stage_idx: r.users
            for r in funnel_stages(all_events, stages).collect()
        }
        stream_counts = {
            i: sum(1 for d in final.values() if d >= i)
            for i in (1, 2, 3)
        }
        assert stream_counts == batch_counts

    def test_validation(self, spark, tmp_path):
        import pytest as _pytest

        from qdrant_datafusion_spark.streaming import streaming_funnel

        df = spark.readStream.schema(EVENT_SCHEMA).parquet(str(tmp_path))
        with _pytest.raises(ValueError):
            streaming_funnel(df, [])


class TestStaggeredBatchFiles:
    def test_mtimes_survive_1s_granularity(self, spark, tmp_path):
        """The micro-batch file stagger orders batches by mtime; a
        filesystem with whole-second mtime granularity truncates the
        stored times, so the spacing must stay strictly increasing
        AFTER int-truncation (it is: 60s apart by construction)."""
        import glob
        import os

        from qdrant_datafusion_spark.entry_queries import (
            INGEST_BATCHES,
            _staggered_batch_files,
        )

        df = spark.range(40).select(
            F.col("id").alias("doc_id"), F.lit("t").alias("text")
        )
        src = _staggered_batch_files(df, "doc_id", str(tmp_path))
        files = sorted(glob.glob(os.path.join(src, "b*.parquet")))
        assert len(files) == INGEST_BATCHES >= 2
        mtimes = [os.stat(f).st_mtime for f in files]
        truncated = [int(m) for m in mtimes]
        assert truncated == sorted(truncated)
        assert all(b - a >= 59 for a, b in zip(truncated, truncated[1:]))
        # and the lexicographic file order IS the intended batch order
        assert [os.path.basename(f) for f in files] == [
            f"b{i}.parquet" for i in range(INGEST_BATCHES)
        ]


class TestStreamDedupBounded:
    """stream_dedup_exact's watermark path (dropDuplicatesWithinWatermark):
    state is EVICTED once the watermark passes first-arrival + horizon —
    the property that bounds dedup state on an always-on ingest, and the
    semantic difference from the plain dropDuplicates path."""

    def test_within_horizon_dropped_after_horizon_reemitted(
        self, spark, tmp_path
    ):
        import os as _os

        from qdrant_datafusion_spark.streaming.ingest import (
            stream_dedup_exact,
        )

        src = str(tmp_path / "wm_src")

        def write(rows, mtime):
            df = spark.createDataFrame(
                rows, "doc_id long, text string, evt string"
            ).withColumn("evt", F.to_timestamp("evt"))
            before = set(_os.listdir(src)) if _os.path.exists(src) else set()
            df.coalesce(1).write.mode("append").parquet(src)
            # pin strictly increasing mtimes so the file source's batch
            # order equals write order even on 1s-granularity filesystems
            for f in set(_os.listdir(src)) - before:
                if f.endswith(".parquet"):
                    _os.utime(_os.path.join(src, f), (mtime, mtime))

        def ts(sec):
            return f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

        # horizon 10s.  batch1: A@100, C@102.  batch2: C@104 (dup
        # within horizon -> dropped), B@200 (advances the watermark to
        # 190).  batch3: A@195, B@196 — BOTH dropped: the watermark-190
        # state cleanup runs after batch3's dedup check, so A's expired
        # state (expiry 110) is still visible to it — eviction becomes
        # OBSERVABLE one batch later, which is why batch4 exists:
        # A@197 is re-emitted there (state aged out), proving both the
        # eviction and its batch-boundary timing.
        write([(1, "A", ts(100)), (2, "C", ts(102))], 1_700_000_000)
        write([(3, "C", ts(104)), (4, "B", ts(200))], 1_700_000_010)
        write([(5, "A", ts(195)), (6, "B", ts(196))], 1_700_000_020)
        write([(7, "A", ts(197))], 1_700_000_030)

        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        kept = stream_dedup_exact(
            stream, "text", watermark_col="evt", watermark="10 seconds"
        )
        rows = _run_to_memory(kept, spark, "dedup_wm_sem", "append").collect()
        got = sorted((r.doc_id, r.text) for r in rows)
        # A emitted TWICE (before and after eviction); B and C once each;
        # the batch-3 A (pre-cleanup) and B (within horizon) both dropped
        assert got == [(1, "A"), (2, "C"), (4, "B"), (7, "A")], got
