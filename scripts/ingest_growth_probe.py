"""Long-stream store-growth probe for the two LSH ingest gates
(round-12 verdict task 3).

`streaming_near_dup_ingest` / `streaming_semantic_ingest` run 4
micro-batches in their gates, so per-batch cost as the accepted-history
store grows was unmeasured.  This probe drives ``n_batches`` (default
32) FIXED-SIZE batches of deliberately all-novel rows (synthetic unique
docs / well-spread vectors — real corpus replicas would self-dedup and
plateau the store, measuring the fixture instead of the operator), one
``availableNow`` drain per batch against a SHARED checkpoint, and
records per batch:

- wall seconds of the drain (includes a constant ~stream-startup term,
  identical every batch, so GROWTH is what the column measures);
- the store's row count entering the batch;
- deltas of cumulative input bytes/records and shuffle read/write,
  read from the driver's status store (the store re-read and the
  bucket-join exchange are the two candidate linear terms — this
  separates them).

Claim under test: per-batch wall must be bounded by the BATCH's work,
with the store contributing only its bucket-pruned probe — i.e. late
batches may pay a linearly growing store *scan* (the plain-parquet
floor) but must not pay a linearly growing store *shuffle*.

Usage: python scripts/ingest_growth_probe.py [n_batches] [near|sem|both]
Prints one JSON line; detail rows go to stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS_PER_BATCH = 2000
VECS_PER_BATCH = 1000
DIM = 64


#: the per-batch stage metrics diffed around each drain
_TOTALS = {
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_records": "shuffleWriteRecords",
}


def _doc_batch(spark, b: int):
    """DOCS_PER_BATCH unique 24-word docs — no near-dups anywhere."""
    rows = [
        (b * DOCS_PER_BATCH + i,
         " ".join(f"b{b}d{i}w{j}" for j in range(24)))
        for i in range(DOCS_PER_BATCH)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vec_batch(spark, b: int):
    """VECS_PER_BATCH seeded random vectors — pairwise |cos| ~ 1/8, so
    nothing approaches the 0.95 dup threshold."""
    import numpy as np

    rng = np.random.RandomState(1000 + b)
    m = rng.standard_normal((VECS_PER_BATCH, DIM))
    rows = [
        (b * VECS_PER_BATCH + i, [float(x) for x in m[i]])
        for i in range(VECS_PER_BATCH)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _drive(spark, kind: str, n_batches: int) -> list[dict]:
    from qdrant_datafusion_spark.plans.inspect import stage_totals
    from qdrant_datafusion_spark.streaming.ingest import (
        stream_near_dup_ingest,
        stream_semantic_ingest,
    )

    root = tempfile.mkdtemp(prefix=f"ingest_growth_{kind}_")
    src = os.path.join(root, "src")
    store = os.path.join(root, "store")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)
    rows: list[dict] = []
    try:
        for b in range(n_batches):
            batch = _doc_batch(spark, b) if kind == "near" else _vec_batch(spark, b)
            batch.coalesce(1).write.mode("append").parquet(src)
            try:
                store_rows = spark.read.parquet(store).count()
            except Exception:
                store_rows = 0
            before = stage_totals(spark, **_TOTALS)
            t0 = time.time()
            if kind == "near":
                q = stream_near_dup_ingest(
                    spark.readStream.schema("doc_id long, text string")
                    .parquet(src),
                    store, out, ckpt,
                )
            else:
                q = stream_semantic_ingest(
                    spark.readStream.schema(
                        "vec_id long, embedding array<float>"
                    ).parquet(src),
                    store, out, ckpt,
                )
            assert q.awaitTermination(600)
            wall = round(time.time() - t0, 3)
            after = stage_totals(spark, **_TOTALS)
            rows.append(
                {
                    "batch": b,
                    "wall": wall,
                    "store_rows_in": store_rows,
                    **{k: after[k] - before[k] for k in after},
                }
            )
            print(f"# {kind} batch {b}: wall={wall}s store_in={store_rows}"
                  f" in_rec={rows[-1]['input_records']}"
                  f" shuf_w={rows[-1]['shuffle_write_records']}",
                  file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return rows


def _summary(rows: list[dict]) -> dict:
    def avg(sel, key):
        xs = [r[key] for r in sel]
        return round(sum(xs) / len(xs), 3) if xs else None

    early = [r for r in rows if 2 <= r["batch"] <= 5]
    late = rows[-4:]
    return {
        "batches": len(rows),
        "wall_early_avg": avg(early, "wall"),
        "wall_late_avg": avg(late, "wall"),
        "wall_growth": round(avg(late, "wall") / avg(early, "wall"), 2),
        "store_rows_final": late[-1]["store_rows_in"],
        "input_records_early": avg(early, "input_records"),
        "input_records_late": avg(late, "input_records"),
        "shuffle_write_early": avg(early, "shuffle_write_records"),
        "shuffle_write_late": avg(late, "shuffle_write_records"),
        "per_batch": rows,
    }


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    which = sys.argv[2] if len(sys.argv) > 2 else "both"

    from qdrant_datafusion_spark.session import get_spark

    spark = get_spark(app_name="ingest-growth-probe")
    spark.conf.set("spark.sql.streaming.schemaInference", "false")
    result: dict = {"n_batches": n_batches,
                    "docs_per_batch": DOCS_PER_BATCH,
                    "vecs_per_batch": VECS_PER_BATCH}
    if which in ("near", "both"):
        result["near_dup"] = _summary(_drive(spark, "near", n_batches))
    if which in ("sem", "both"):
        result["semantic"] = _summary(_drive(spark, "sem", n_batches))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
