"""SparkSession factory tuned for this engine.

Local mode is used for tests/bench (one JVM, N threads); the config is
written so the same code runs unchanged on a real cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy —
  at 100 TB these replace hand-tuned partition counts.
- shuffle.partitions sized to cores locally.  Partition coalescing is
  INTENTIONALLY floored at that same count (minPartitionNum below), so
  for byte-heavy shuffles the initial number is both ceiling and floor;
  only sub-(minPartitionNum x minPartitionSize) shuffles merge lower —
  byte-bound work where fewer tasks win (A/B-measured, round 14).  A
  cluster deployment that wants coalescing headroom passes a larger
  explicit ``shuffle_partitions`` and overrides the floor via
  ``extra_conf``.
- Arrow enabled for every Python<->JVM boundary (pandas UDFs, toPandas).
- UTC session timezone so results hash-match a DuckDB oracle.

It also owns the package's one pin-and-release implementation,
:class:`Pins`, in two scopes: a streaming micro-batch
(``streaming.ingest._run_batches``) and a session (:func:`shared_build`).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "qdrant-datafusion-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # let the Python-DataSource connector seam accept pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Driver-local literal relations (createDataFrame of query vectors,
        # pyspark.ml DefaultParamsWriter metadata writes) are sliced into
        # defaultParallelism pickled partitions, and a coalesce(1) consumer
        # — which is exactly what the stock ML writer does (verified in
        # DefaultParamsWriter.saveMetadata: createDataFrame([1 row])
        # .coalesce(1).write.text) — then evaluates every slice
        # SEQUENTIALLY through a Python worker roundtrip (~0.2-0.5s each;
        # measured 6s per 1-row metadata write at 32 slices, and still
        # ~1.8s at 8).  1 slice is the correct count for a 1-row relation
        # at ANY cluster size — more cores make the serial slice walk
        # strictly worse, so this is not a local-mode tune; RDD-API work
        # that wants full parallelism can override it through
        # ``extra_conf`` (the engine's own query paths are DataFrame-API
        # and size their stages from the scan/shuffle configs and
        # session.fan_out, not this).
        .config("spark.default.parallelism", "1")
        # AQE's coalescePartitions floor silently derives from
        # defaultParallelism when minPartitionNum is unset
        # (CoalesceShufflePartitions falls back to
        # session.sparkContext.defaultParallelism) — so the
        # default.parallelism=1 fix above would let AQE coalesce every
        # small-BYTE shuffle to ONE partition, serializing the CPU-heavy
        # post-shuffle stages AQE cannot cost (per-bucket GEMM blocks,
        # pandas-UDF kernels: measured 2.3x on the 10x-scale kNN-graph
        # gate, 15.2s -> 6.0s warm when the floor is restored).  Pin the
        # floor to the same scale-parameterised value shuffle.partitions
        # uses — this is exactly the floor defaultParallelism=cores gave
        # every round through r12, now decoupled from the RDD slice count.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(shuffle_partitions),
        )
        # HONESTY NOTE on the floor above (round-14 ADVICE item): the
        # floor is ADVISORY for the smallest shuffles — coalescing
        # shrinks its target size to total/minNum, but minPartitionSize
        # (default 1MB) then overrides it, so a shuffle under
        # ~minNum×1MB still merges toward ONE partition (measured: a
        # 160KB collect_list shuffle runs 1 post-shuffle task).  Forcing
        # the floor to bind everywhere (minPartitionSize=1b) was
        # A/B-measured across 18 gates in round 14 and is a NET
        # REGRESSION here: 6 gates got 1.5-3x slower (dedup_keep_best
        # 2.3->7.0s, text_dsir_select 2.5->6.1s, graph_pagerank
        # 0.9->2.5s, text_perplexity 1.7->3.7s) because sub-MB
        # post-shuffle stages fan to 32 near-empty tasks whose per-task
        # Python-worker roundtrips dominate, vs one gate improved.
        # Byte-based coalescing of the tiniest stages is the right
        # default; operators whose SMALL shuffles feed CPU-heavy kernels
        # spread explicitly (session.fan_out / keyed repartition), which
        # AQE does not coalesce.  Deployments that want the floor to bind
        # anyway set it through ``extra_conf``:
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fan_out(df, *key_cols: str, min_parts: int | None = None, parts: int | None = None):
    """Spread a narrow-split scan across the session's parallelism before
    heavy per-row kernels (shingling, md5 signatures, codec decodes).

    Parquet splits at row-group granularity, so a table written as one
    small file (this harness's fixtures; any compacted dimension table)
    scans as ONE task no matter what ``maxPartitionBytes`` says — and
    every expensive map-side kernel downstream of that scan then runs on
    one core (guide §2.5 "input skew" / §6 input splits).  This helper
    is the scale-correct fix: a NO-OP whenever the plan already has
    enough partitions (at 100 TB a scan has thousands of splits and the
    shuffle would be pure waste), and an explicit-count deterministic
    hash repartition when it does not.  The explicit ``numPartitions``
    matters: a bare ``repartition(cols)`` is advisory and AQE coalesces
    it right back to one partition on byte-size grounds — AQE cannot see
    that the downstream per-row cost, not the byte count, is the reason
    for the spread.

    Keyed (deterministic) partitioning, never round-robin: retried tasks
    reproduce the same row placement (SPARK-38388 class of bugs), and a
    later shuffle on the same key can reuse the exchange.

    ``parts`` caps the spread for SMALL known-cardinality frames (e.g. a
    few hundred rows feeding a per-batch Python UDF): full-parallelism
    tasks of a handful of rows each make the per-task worker roundtrip
    the dominant cost (measured: a 256-row triple-codec gate ran 3-4x
    slower at 32 one-batch tasks than at 8).
    """
    sess = df.sparkSession
    target = int(sess.conf.get("spark.sql.shuffle.partitions"))
    if parts is not None:
        target = max(1, min(target, int(parts)))
    if min_parts is None:
        min_parts = max(4, target // 2)
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(target, *key_cols)


class Pins:
    """Frames pinned in one scope and released together.

    ``pin(df)`` persists ``df``: the pin keeps its lineage, so a lost
    executor recomputes a block instead of failing the reader.
    ``pin(df, lineage=False)`` takes an eager ``localCheckpoint``
    instead, for a frame whose sources are then overwritten or which is
    read by many later plans; its blocks are not replicated, so on a
    cluster an executor loss fails its readers.  :meth:`release` frees
    every pin, newest first.
    """

    def __init__(self) -> None:
        self._releases: list[Callable[[], object]] = []

    def __call__(self, df: DataFrame, lineage: bool = True) -> DataFrame:
        if lineage:
            df = df.persist()
            self._releases.append(df.unpersist)
        else:
            df = df.localCheckpoint(eager=True)
            rdd = df._jdf.logicalPlan().rdd()  # the checkpointed blocks
            self._releases.append(lambda: rdd.unpersist(False))
        return df

    def release(self) -> None:
        # newest first: releasing a pin that a later pin's plan reads
        # would make Spark re-plan that later pin
        while self._releases:
            self._releases.pop()()


#: (owner session, its shared builds by key, the pins they took)
_shared: tuple[SparkSession | None, dict[Any, Any], Pins] = (None, {}, Pins())


def shared_build(spark: SparkSession, key: Any, build: Callable[[Pins], Any]) -> Any:
    """``build(pin)``, run once per session and ``key`` and then reused.

    Lifetime: entries live for their owner session, and only one session
    owns entries at a time.  The first call from another session
    releases every pin the old entries took (skipped when the old
    session's context is already stopped: it has no JVM left to release
    into), drops them, and makes the caller the owner.  A frame built
    from an evicted entry must therefore not be read after a session
    switch: the blocks it reads are gone.  Builds may nest; ``pin`` is
    the session scope's :class:`Pins`.
    """
    global _shared
    owner, values, pins = _shared
    if owner is not spark:
        if owner is not None and owner.sparkContext._jsc is not None:
            pins.release()
        owner, values, pins = _shared = (spark, {}, Pins())
    if key not in values:
        values[key] = build(pins)
    return values[key]
