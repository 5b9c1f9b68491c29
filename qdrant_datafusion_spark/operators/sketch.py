"""Bounded-size sketches: CMS frequency, KMV distinct, skew diagnostics.

Beyond-reference pipeline surface (the reference engine has no sketch
support): the two operators a shuffle-heavy 100 TB pipeline needs
*before* it shuffles — "which keys are heavy?" answered from a
bounded-size sketch, and "which join keys will skew my shuffle?"
answered exactly.  The existing skew-salted join (``operators/joins.py``)
consumes exactly the hot-key list ``skew_hot_keys`` produces.

Cross-engine exactness: every bucket index is derived from
``md5('cms{d}:' || key)`` (first 8 hex chars → BIGINT, mod width) — the
same double-hash family the MinHash/LSH operators use — so the sketch,
the estimates, and the heavy-hitter set are bit-identical on Spark,
DuckDB, and Python.  All arithmetic is BIGINT (thresholds are integer
cross-multiplications, ratios are fixed-point micros via truncating
division); no float appears anywhere.

Scale shape (100 TB story):

- **cms_build** is ONE shuffle whose volume is bounded by construction:
  rows explode to ``depth`` (d, bucket) pairs, and the groupBy's
  map-side combine collapses each partition to at most depth×width
  partial rows before the exchange — the shuffle carries
  O(partitions × depth × width), NOT O(rows), and the sketch itself is
  ≤ depth×width rows no matter the input size.  That is the entire
  point of the sketch: a frequency summary whose size is independent of
  the data.
- **cms_estimate** never rescans the stream: candidates hash to their
  (d, bucket) coordinates and broadcast-join the ≤ depth×width-row
  sketch (always broadcastable), then a min over the depth lanes per
  key — linear in candidates, zero passes over the original data.
  CMS guarantees est ≥ true count, so filtering candidates by an
  estimated threshold has NO false negatives.
- **skew_hot_keys** is the exact diagnostic: one map-side-combined
  groupBy over the key (the same shuffle the join under diagnosis would
  do, but carrying one row per distinct key), one broadcast single-row
  stats join.  Run it on a sample or the sketch path when even that
  pass is too much.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cms_auto_width",
    "cms_build",
    "cms_estimate",
    "cms_heavy_hitters",
    "cms_join_size",
    "hist_build",
    "hist_quantiles",
    "kmv_build",
    "kmv_build_grouped",
    "kmv_estimate",
    "kmv_estimate_grouped",
    "kmv_merge",
    "kmv_set_estimates",
    "skew_hot_keys",
]

#: KMV hash space: 8 hex chars of md5 → [0, 2^32), non-negative BIGINT
#: on every engine (same convention as the CMS/MinHash bucket hashes).
KMV_SPACE = 1 << 32


def cms_auto_width(n_keys: int, load: float = 0.25, floor: int = 64) -> int:
    """Sketch width for a target bucket load (keys per bucket): the
    next power of two ≥ ``n_keys / load``.  A FIXED width silently
    saturates as the key space grows — measured at the 100× probe, a
    4096-bucket sketch over 150k keys put ~36 keys in every bucket and
    flagged ALL of them heavy (pure false positives); width ∝ keys
    keeps the collision mass per key constant, the same knob as
    ``dedup.auto_bucket_planes``.  The sketch stays bounded and
    broadcastable: width 2²⁰ × depth 4 is still only ~4M cells."""
    want = max(floor, int(n_keys / load))
    w = floor
    while w < want:
        w <<= 1
    return w


def _bucket(key_str: Column, d: int, width: int) -> Column:
    """Depth-``d`` bucket of a key: md5('cms{d}:'||key)[:8] as int, mod
    width.  8 hex chars < 2^32 so the BIGINT is non-negative and ``%``
    agrees across Spark / DuckDB / Python."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{d}:"), key_str)), 1, 8),
            16,
            10,
        ).cast("bigint")
        % width
    )


def _coords(key_str: Column, depth: int, width: int) -> Column:
    """Array of (d, b) structs — the key's one coordinate per depth."""
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("d"),
                _bucket(key_str, d, width).alias("b"),
            )
            for d in range(depth)
        ]
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the sketch: (d, b, cnt) with one row per touched cell,
    ≤ depth×width rows total.  NULL keys are excluded (they carry no
    join/groupBy cost downstream)."""
    k = F.col(key_col).cast("string")
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(_coords(k, depth, width)).alias("_e"))
        .select("_e.d", "_e.b")
        .groupBy("d", "b")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    keys_df: DataFrame,
    key_col: str,
    sketch: DataFrame,
    depth: int,
    width: int,
    out_col: str = "est",
) -> DataFrame:
    """Point-query the sketch for every (distinct) key in ``keys_df``:
    returns (key, est) where est = min over depths of the key's cell
    count — 0 for keys the sketched stream never saw (left join).
    The sketch side is broadcast: it is ≤ depth×width rows by
    construction."""
    k = F.col(key_col).cast("string")
    ex = (
        keys_df.select(F.col(key_col), F.explode(_coords(k, depth, width)).alias("_e"))
        .select(key_col, "_e.d", "_e.b")
    )
    return (
        ex.join(F.broadcast(sketch), ["d", "b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    num: int = 2,
    den: int = 1,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Keys whose *estimated* count exceeds ``num/den`` × the mean
    per-key count, from one data pass (the sketch build) plus one
    distinct over keys.  Because CMS only overestimates, every true
    heavy hitter is in the output (no false negatives); collisions can
    add false positives, shrinking with width.  Pass ``sketch`` when
    ``df``'s sketch was built elsewhere, e.g. drained from a stream
    (cells add, so it equals the batch build).

    The stream total is read back off the sketch itself (sum of the
    d=0 row counts — each depth lane sums to the stream length), so no
    second pass over the data; the distinct-key count is one extra
    1-row aggregate on the candidate set.  Threshold comparison is the
    integer cross-multiplication ``est · n_keys · den > num · total``.
    """
    if sketch is None:
        sketch = cms_build(df, key_col, depth, width)
    cand = df.where(F.col(key_col).isNotNull()).select(key_col).distinct()
    est = cms_estimate(cand, key_col, sketch, depth, width)
    total = sketch.where(F.col("d") == 0).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("_total")
    )
    nk = cand.agg(F.count("*").cast("bigint").alias("_nk"))
    return (
        est.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(nk))
        .where(F.col("est") * F.col("_nk") * den > num * F.col("_total"))
        .select(key_col, F.col("est").cast("bigint").alias("est"))
    )


def cms_join_size(
    sketch_a: DataFrame, sketch_b: DataFrame, out_col: str = "est_pairs"
) -> DataFrame:
    """Estimate an equi-join's output cardinality from the two sides'
    sketches alone — the classic CMS inner product: per depth lane,
    Σ_buckets cntA·cntB, then min over lanes.  Overestimate-only, like
    point queries, so the estimate is a safe upper bound for shuffle
    planning (reducer sizing, broadcast-vs-SMJ choice, salt decisions)
    WITHOUT scanning either table again: both operands are
    ≤ depth×width-row summaries.  The whole computation is one
    broadcast-to-broadcast join of two tiny tables — driver-free,
    milliseconds at any data scale.  Sketches must share (depth, width,
    and the hash family — automatic for cms_build outputs)."""
    j = sketch_a.alias("a").join(
        F.broadcast(sketch_b.alias("b")),
        (F.col("a.d") == F.col("b.d")) & (F.col("a.b") == F.col("b.b")),
    )
    per_lane = j.groupBy(F.col("a.d").alias("d")).agg(
        F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("_dot")
    )
    return per_lane.agg(
        F.coalesce(F.min("_dot"), F.lit(0)).cast("bigint").alias(out_col)
    )


def skew_hot_keys(
    df: DataFrame, key_col: str, num: int = 2, den: int = 1
) -> DataFrame:
    """Exact hot-key detection for shuffle-skew diagnosis: keys whose
    count exceeds ``num/den`` × the mean per-key count, with the skew
    ratio as fixed-point micros (``cnt · n_keys · 1e6  div  total`` —
    truncating integer division, identical to DuckDB's ``//``).

    Output feeds ``operators.joins.salted_join``'s hot-key list: the
    standard two-step "diagnose skew, then salt exactly the keys that
    need it" pattern.  One keyed groupBy (map-side combined) + one
    broadcast of a single stats row.
    """
    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
    )
    stats = counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("_total"),
        F.count("*").cast("bigint").alias("_nk"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .where(F.col("cnt") * F.col("_nk") * den > num * F.col("_total"))
        .select(
            key_col,
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("cnt * _nk * 1000000 div _total").alias("ratio_micro"),
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — the distinct-count complement of
# the CMS frequency sketch above.  Bar-Yossef et al. 2002's estimator: keep
# the k smallest distinct hash values of the key stream; if fewer than k
# distinct hashes exist the count is exact, otherwise
# est = (k-1) * SPACE div h_(k).  Because the sketch IS a set of hashes it
# supports the set algebra COUNT(DISTINCT) cannot be decomposed into:
# union (merge the sketches, keep the k smallest) and intersection/Jaccard
# (rho = |merged ∩ A ∩ B| over the merged sketch, Broder 1997) — all from
# bounded k-row summaries, no second pass over either stream.
#
# Cross-engine exactness: hashes are md5('kmv:'||key)[:8] BIGINTs, the
# estimator is one truncating BIGINT division ((k-1)*2^32 ≤ 2^41·2^32 far
# under 2^63 for any practical k), ratios are fixed-point micros — the
# sketch rows, estimates, and error stats are bit-identical on Spark,
# DuckDB, and Python.
#
# Scale shape (100 TB story):
# - kmv_build: one map-side-combined distinct over the 32-bit hash (the
#   shuffle carries at most one row per distinct hash per partition, NOT
#   one per input row) followed by TakeOrderedAndProject — per-partition
#   k-heaps merged on the driver, no global sort, no second shuffle.  The
#   result is ≤ k rows regardless of input size.
# - kmv_build_grouped: the same, keyed — distinct (group, hash) then one
#   rank window partitioned by group; output ≤ k rows PER GROUP, so
#   downstream joins/aggregations touch a bounded table.
# - estimates / merges / set ops: arithmetic over ≤ k-row inputs —
#   always broadcastable, effectively free at any data scale.
# ---------------------------------------------------------------------------


def kmv_hash(key: Column) -> Column:
    """32-bit KMV hash of a key: md5('kmv:'||key)[:8] as non-negative
    BIGINT — the same hex-prefix construction as :func:`_bucket`, under
    a distinct salt so KMV and CMS coordinates are independent."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def kmv_build(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """The k smallest distinct key hashes of ``df[key_col]`` as a one-
    column DataFrame ``h`` (≤ k rows).  NULL keys are excluded.

    Plan: hash projection → partial+final HashAggregate (the map-side
    combine means the exchange carries per-partition distinct hashes,
    not rows) → ``orderBy(h).limit(k)`` which Spark executes as
    TakeOrderedAndProject: a size-k heap per partition merged once —
    no global sort at any scale."""
    return (
        df.where(F.col(key_col).isNotNull())
        .select(kmv_hash(F.col(key_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_build_grouped(
    df: DataFrame, group_col: str, key_col: str, k: int = 256
) -> DataFrame:
    """Per-group KMV sketches: (group, h) with the k smallest distinct
    key hashes of each group — ≤ k rows per group.  One distinct over
    (group, hash) then one rank window partitioned by group; the window
    never sees more than the group's distinct-hash count and the output
    is bounded by k × n_groups."""
    d = (
        df.where(F.col(key_col).isNotNull() & F.col(group_col).isNotNull())
        .select(group_col, kmv_hash(F.col(key_col)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(group_col, "h")
    )


def kmv_estimate(
    sketch: DataFrame, k: int, out_col: str = "est_distinct"
) -> DataFrame:
    """Distinct-count estimate from a :func:`kmv_build` sketch: one row
    ``(n_sketch, kth_hash, out_col)``.  ``n_sketch < k`` ⇒ the estimate
    IS the exact distinct count."""
    agg = sketch.agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.coalesce(F.max("h"), F.lit(0)).cast("long").alias("kth_hash"),
    )
    return agg.select(
        "n_sketch",
        "kth_hash",
        F.when(F.col("n_sketch") < k, F.col("n_sketch"))
        .otherwise(
            F.expr(f"{(k - 1) * KMV_SPACE} div greatest(kth_hash, 1)")
        )
        .cast("long")
        .alias(out_col),
    )


def kmv_estimate_grouped(
    sketch: DataFrame, group_col: str, k: int, out_col: str = "est_distinct"
) -> DataFrame:
    """Per-group distinct estimates from a :func:`kmv_build_grouped`
    sketch: (group, n_sketch, kth_hash, out_col) — one tiny groupBy over
    the ≤ k×n_groups-row sketch."""
    agg = sketch.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    return agg.select(
        group_col,
        "n_sketch",
        "kth_hash",
        F.when(F.col("n_sketch") < k, F.col("n_sketch"))
        .otherwise(
            F.expr(f"{(k - 1) * KMV_SPACE} div greatest(kth_hash, 1)")
        )
        .cast("long")
        .alias(out_col),
    )


def kmv_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Union of two KMV sketches: the k smallest of the combined hash
    sets — exactly the sketch :func:`kmv_build` would produce over the
    concatenated streams (the mergeability that makes KMV a partial
    aggregate).  Both inputs are ≤ k rows, so this is driver-trivial."""
    return a.union(b).distinct().orderBy("h").limit(k)


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, k: int, materialize: bool = True
) -> DataFrame:
    """Set-algebra estimates from two same-k KMV sketches (Broder's
    MinHash argument over the merged sketch): one row with

    - ``n_merged``, ``kth_hash`` — the merged sketch's stats,
    - ``est_union`` — KMV estimate of |A ∪ B|,
    - ``rho`` — merged-sketch hashes present in BOTH input sketches,
    - ``jaccard_micro`` — fixed-point ρ/n_merged (an unbiased Jaccard
      estimate: the merged sketch is a uniform sample of A ∪ B),
    - ``est_intersect`` — ρ · est_union div n_merged.

    All inputs are ≤ k rows: the semi-joins below are broadcast joins
    over bounded tables, independent of the original stream sizes.
    ``materialize`` (default) lazily ``localCheckpoint``-s the two input
    sketches and the merge — each feeds two consumers, and Catalyst
    shares no common subplans, so without it each underlying stream
    would be re-scanned per consumer.  All three are ≤ k rows: bounded
    state by construction."""
    if materialize:
        a = a.localCheckpoint(eager=False)
        b = b.localCheckpoint(eager=False)
    merged = kmv_merge(a, b, k)
    if materialize:
        merged = merged.localCheckpoint(eager=False)
    rho_rows = (
        merged.join(F.broadcast(a), "h", "left_semi")
        .join(F.broadcast(b), "h", "left_semi")
    )
    m_stats = merged.agg(
        F.count("*").cast("long").alias("n_merged"),
        F.coalesce(F.max("h"), F.lit(0)).cast("long").alias("kth_hash"),
    )
    r_stats = rho_rows.agg(F.count("*").cast("long").alias("rho"))
    return (
        m_stats.crossJoin(F.broadcast(r_stats))
        .select(
            "n_merged",
            "kth_hash",
            F.when(F.col("n_merged") < k, F.col("n_merged"))
            .otherwise(
                F.expr(f"{(k - 1) * KMV_SPACE} div greatest(kth_hash, 1)")
            )
            .cast("long")
            .alias("est_union"),
            "rho",
        )
        .select(
            "n_merged",
            "kth_hash",
            "est_union",
            "rho",
            F.expr("rho * 1000000 div greatest(n_merged, 1)")
            .cast("long")
            .alias("jaccard_micro"),
            F.expr("rho * est_union div greatest(n_merged, 1)")
            .cast("long")
            .alias("est_intersect"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-width histogram sketch — the quantile member of the sketch trio
# (CMS = frequencies, KMV = distincts, histogram = quantiles).  A bounded
# B-row count vector over equal integer value ranges: mergeable (counts
# add), one map-side-combined shuffle to build, and any quantile estimate
# comes off the sketch with error bounded by one bucket's value width.
# All arithmetic is BIGINT (bucket mapping and its exact inverse edges are
# truncating/ceiling divisions) — sketch rows, ranks, and estimates are
# bit-identical on Spark, DuckDB, and Python.
# ---------------------------------------------------------------------------


def hist_build(
    df: DataFrame,
    value_col: str,
    buckets: int = 256,
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Equi-width histogram of an INTEGER measure: ≤ ``buckets`` rows of
    (b, cnt, lo, hi) where ``b = (v − lo)·B div W`` with ``W = hi−lo+1``
    over [lo, hi] — observed from the data by default (one 1-row min/max
    aggregate broadcast, the same pattern as zorder_key's
    normalization), or passed explicitly.  Explicit bounds make the
    mapping a pure projection with NO second aggregation — the form a
    STREAMING build needs (one aggregation per streaming query) and the
    form shards must share to merge; values are clamped into [lo, hi].
    The count groupBy is map-side combined, so the exchange carries at
    most B rows per partition regardless of input size; lo/hi ride along
    as constant columns so the sketch is self-describing for decoding
    and merging.  Degenerate all-equal input (W ≤ B) still works:
    buckets simply cover single values."""
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    src = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("bigint").alias("_v")
    )
    if lo is not None:
        if hi < lo:
            raise ValueError("hi must be >= lo")
        clamp = f"least(greatest(_v, {lo}), {hi})"
        keyed = src.select(
            F.expr(f"(({clamp} - {lo}) * {buckets}) div {hi - lo + 1}")
            .cast("bigint")
            .alias("b"),
            F.lit(lo).cast("bigint").alias("_lo"),
            F.lit(hi).cast("bigint").alias("_hi"),
        )
    else:
        mm = df.agg(
            F.min(F.col(value_col).cast("bigint")).alias("_lo"),
            F.max(F.col(value_col).cast("bigint")).alias("_hi"),
        )
        keyed = (
            src.crossJoin(F.broadcast(mm))
            .select(
                F.expr(f"((_v - _lo) * {buckets}) div (_hi - _lo + 1)")
                .cast("bigint")
                .alias("b"),
                "_lo",
                "_hi",
            )
        )
    return (
        keyed.groupBy("b", "_lo", "_hi")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select("b", "cnt", F.col("_lo").alias("lo"), F.col("_hi").alias("hi"))
    )


def hist_quantiles(
    hist: DataFrame, buckets: int, q_micros: list[int]
) -> DataFrame:
    """Quantile estimates off a :func:`hist_build` sketch: for each
    requested quantile q (fixed-point micros) compute the target rank
    ``r = max(1, ceil(q·N / 1e6))``, walk the cumulative counts to the
    bucket containing the r-th smallest value, and return that bucket's
    EXACT integer value edges plus an in-bucket linear estimate — so
    ``est ∈ [b_lo, b_hi]`` and the true r-th value is in the same
    interval by construction (the histogram guarantee the gate asserts
    against exact counts).

    Everything here runs on the ≤ B-row sketch: a cumulative window over
    B rows, a tiny cross join with the quantile list — independent of
    the original data size.  Output: one row per quantile,
    ``(q_micro, n_total, rank_r, bucket, b_lo, b_hi, est)``."""
    qdf_rows = ", ".join(f"({int(q)})" for q in q_micros)
    spark = hist.sparkSession
    qdf = spark.sql(f"SELECT * FROM VALUES {qdf_rows} AS t(q_micro)")
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n_total"))
    j = (
        qdf.crossJoin(F.broadcast(tot))
        .withColumn(
            "rank_r",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("(q_micro * n_total + 999999) div 1000000"),
            ),
        )
        .join(
            F.broadcast(cum),
            (F.col("cum") >= F.col("rank_r"))
            & (F.col("cum_before") < F.col("rank_r")),
        )
    )
    width = "(hi - lo + 1)"
    b_lo = f"lo + ((b * {width} + {buckets - 1}) div {buckets})"
    b_hi = f"lo + (((b + 1) * {width} + {buckets - 1}) div {buckets}) - 1"
    return j.select(
        "q_micro",
        "n_total",
        "rank_r",
        F.col("b").alias("bucket"),
        F.expr(b_lo).cast("bigint").alias("b_lo"),
        F.expr(b_hi).cast("bigint").alias("b_hi"),
        F.expr(
            f"least({b_hi}, ({b_lo}) + "
            f"((({b_hi}) - ({b_lo})) * (rank_r - cum_before)) div greatest(cnt, 1))"
        ).cast("bigint").alias("est"),
    )
