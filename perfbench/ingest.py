"""``ingest``: writes beside reads.

One stream of fixed-size micro-batches of generated documents, with
planted near-copies, runs through ``streaming.ingest.stream_near_dup_ingest``
for the whole run.  ``stream_near_dup_ingest`` runs an ``availableNow``
query, so each micro-batch is one new source file followed by one query
start on the same checkpoint — how a caller of this API feeds it as data
arrives.  Each batch reads the growing signature store and appends to it
and to the sink (dedup signatures, joins and parquet writes); whether the
store's growth slows later batches shows in ``streaming.batch_growth``.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

import gen
import oracle
from common import median, now
from qdrant_datafusion_spark.streaming.ingest import stream_near_dup_ingest

BATCH_DOCS = 500
#: warm-up: small batches that run every code path of the ingest, the
#: first without a store to read and the second with one
WARMUP_BATCHES = 2
WARMUP_DOCS = 50
SCHEMA = "doc_id bigint, text string"


class Ingest:
    #: nominal length of a round (one micro-batch) with a 2-core session
    ROUND_S = 4.0

    def __init__(self, seed: int, spark, tracer, dirs):
        self.spark, self.tracer, self.dirs = spark, tracer, dirs
        self.stream = gen.DocStream(seed)
        self.batch_id = 0
        self.durations: list[dict] = []  # durationMs of every timed batch

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        self.src, self.store, self.out, self.ckpt = (
            self.dirs.fresh(n) for n in ("src", "store", "out", "ckpt")
        )
        self.points = (
            self.spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(self.src)
        )

    def warmup(self) -> None:
        for _ in range(WARMUP_BATCHES):
            self._batch(WARMUP_DOCS)
        self.durations.clear()

    def close(self) -> None:
        pass

    # -- rounds -----------------------------------------------------------

    def round(self, traced: bool):
        return [self._batch(BATCH_DOCS)]

    def _batch(self, size: int):
        """Ingest one micro-batch; returns the op tuple
        (kind, trigger s, docs, ok, trace-only s, wall s)."""
        span = self.tracer.span
        docs = self.stream.batch(size)
        oracle.check_planted(self.stream, docs)
        gen.write_docs(docs, os.path.join(self.src, f"batch-{self.batch_id:06d}.parquet"))
        t0 = now()
        with span("streaming.start"):
            query = stream_near_dup_ingest(
                self.points, self.store, self.out, self.ckpt, content_col="text", id_col="doc_id"
            )
        with span("streaming.await"):
            query.awaitTermination()
        wall = now() - t0
        batches = [p for p in query.recentProgress if p.numInputRows > 0]
        want = {i for i, _ in docs if i in self.stream.originals}
        ok = (
            query.exception() is None
            and len(batches) == 1
            and batches[0].batchId == self.batch_id
            and self._kept(self.batch_id) == want
        )
        self.batch_id += 1
        if not batches:
            return ("batch", wall, size, False, 0.0, wall)
        self.durations.append(dict(batches[0].durationMs))
        return ("batch", batches[0].durationMs["triggerExecution"] / 1e3, size, ok, 0.0, wall)

    def _kept(self, batch_id: int) -> set[int]:
        """Doc ids the sink accepted from one batch, read back with pyarrow."""
        files = glob.glob(os.path.join(self.out, f"_batch_id={batch_id}", "*.parquet"))
        if not files:
            return set()
        return set(pq.read_table(files, columns=["doc_id"]).column("doc_id").to_pylist())

    # -- per-layer --------------------------------------------------------

    def layers(self, traced_ops) -> dict[str, float]:
        add = [d["addBatch"] for d in self.durations]
        q = max(1, len(add) // 4)
        store = glob.glob(os.path.join(self.store, "_batch_id=*", "*.parquet"))
        out = glob.glob(os.path.join(self.out, "_batch_id=*", "*.parquet"))
        return {
            "streaming.add_batch_ms": median(add),
            "streaming.bookkeeping_ms": median(
                d["triggerExecution"] - d["addBatch"] for d in self.durations
            ),
            "streaming.batch_growth": median(add[-q:]) / median(add[:q]),
            "streaming.store_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in store),
            "streaming.store_files": len(store),
            "streaming.survivors": sum(pq.ParquetFile(f).metadata.num_rows for f in out),
        }
