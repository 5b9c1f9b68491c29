"""The driver-contract query inventory: every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions) as a
(spark_query, duckdb_oracle_sql) pair over the driver's parquet tables.

Determinism rules (the driver hash-compares values):
- every float output is ``round(x, N)`` on BOTH sides (money sums N=2,
  unit-scale scores N=6) — identical decimal → identical double bits;
- every top-k orders by (score, id) so ties cannot reorder row *sets*;
- timestamps are formatted to strings (Spark session TZ is UTC, DuckDB is
  naive — strings remove the ambiguity);
- aggregate/computed columns carry the same alias in both engines.
"""

from __future__ import annotations

import os
import random
import re
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from qdrant_datafusion_spark.functions.composite import recommend_composite
from qdrant_datafusion_spark.functions.distance import (
    cosine_similarity,
    dot_product,
    euclid_distance,
    v_search,
)
from qdrant_datafusion_spark.functions.fusion import RRF_K
from qdrant_datafusion_spark.functions.geo import v_gauss_decay, v_geo_distance
from qdrant_datafusion_spark.functions.json_fns import has_field, payload_get_float
from qdrant_datafusion_spark.functions.text import (
    doc_fingerprint,
    language_score,
    match_text,
    quality_score,
    tfidf_rank,
    token_count,
    tokens,
    vocab_stats,
    word_shingles,
)
from qdrant_datafusion_spark.operators.dedup import (
    dup_clusters,
    exact_dedup,
    minhash_buckets,
    minhash_hot_buckets,
    minhash_lsh_dups,
    ngram_jaccard_dups,
    simhash_dups,
    simhash_hot_buckets,
)
from qdrant_datafusion_spark.session import fan_out, shared_build


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture relation ``sf_dir/name.parquet``, read once per
    session: re-reading the same immutable file re-runs driver-side
    schema inference (footer read + a fresh FileIndex) on EVERY call —
    measured ~80ms per spark.read.parquet vs ~5ms reusing the relation,
    across ~300 reads per bench run (guide §7.3 driver-side planning
    cost).  Only the UNEXECUTED logical plan is shared — no rows, no
    executor state; every action still scans the parquet, so this is
    plan reuse, not result caching.  Stores/sinks whose contents change
    between reads (streaming store dirs, tmp write-read gates) never go
    through here."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return shared_build(spark, path, lambda pin: spark.read.parquet(path))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet with ``ts`` normalized to integer epoch
    nanoseconds (long), whatever the file's physical timestamp type —
    deterministic and identical to DuckDB's epoch_ns().

    Two generations of driver testdata exist: TIMESTAMP(NANOS) (which
    Spark's vectorized reader only accepts as long via the
    ``nanosAsLong`` conf) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).
    All downstream time arithmetic is integer-ns, so both normalize here.

    Bucketing consumers (hourly, cohorts) floor-divide via
    :func:`_floor_div` — engine-identical to DuckDB's ``//`` for ANY
    sign, so the old ``ts >= 0`` precondition no longer applies to them
    (r6 verdict task #6).  The µs-domain conversions for the temporal
    joins (``ts div 1000`` paired with DuckDB ``epoch_us``) keep the
    documented post-epoch precondition: their truncation happens at the
    engines' differing ns→µs read paths, not in this library's
    arithmetic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    if isinstance(ev.schema["ts"].dataType, LongType):
        return ev  # nanos file: already epoch-ns longs
    # micros file (TIMESTAMP_NTZ): wall-clock -> epoch ns, matching
    # DuckDB's naive-as-UTC epoch_ns().  timestampdiff between two NTZ
    # values is pure wall-clock arithmetic — timezone-independent, so
    # this loader never mutates session timezone state (an earlier
    # unix_micros(cast(ts as timestamp)) needed a session-wide UTC pin,
    # leaking a conf change into every later query of the session).
    return ev.withColumn(
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " * 1000"
        ),
    )


def _floor_div(expr: str, d: int) -> Column:
    """Integer FLOOR division of SQL expression ``expr`` by literal
    ``d > 0``.  Measured semantics on this stack (pytest
    TestFloorDivBucketing): Spark's ``div`` AND DuckDB 1.0's integer
    ``//`` BOTH truncate toward zero — so raw ``div`` vs ``//`` never
    actually diverged; the engine-divergence risk is vs Python's
    flooring ``//`` (and any consumer expecting calendar-aligned
    buckets).  Time bucketing wants FLOOR (a pre-1970 instant belongs in
    the bucket that STARTS before it, not the one after), so bucketing
    queries use this helper and their oracles spell the same floor out
    via :func:`_floor_div_sql`.  ``(x - pmod(x, d)) div d`` floors for
    any sign: pmod is always non-negative, so the dividend becomes the
    exact floor multiple."""
    return F.expr(f"(({expr}) - pmod(({expr}), {d})) div {d}")


def _floor_div_sql(expr: str, d: int) -> str:
    """DuckDB text twin of :func:`_floor_div` (integer ``//`` truncates
    there too, so the floor must be spelled out)."""
    return f"((({expr}) - ((({expr}) % {d} + {d}) % {d})) // {d})"


# ---------------------------------------------------------------------------
# exact rounded averages — the engine-portable form of round(sum/count, 6)
# ---------------------------------------------------------------------------
#
# sum/count over a decimal-quantized column is a terminating decimal that
# can land EXACTLY on a 6th-decimal half boundary, where Spark (HALF_UP on
# the decimal repr) and DuckDB (rounding the binary double) disagree by one
# ulp in the last digit — q_group_having hit this at sf0.1 with three
# 16-order customers.  These helpers compute round-half-away-from-zero as
# exact integer arithmetic — |r| = (2·|p|·m + q) div (2·q) on the scaled
# units — in decimal(38,0) (Spark) / HUGEINT (DuckDB), so both engines
# produce the same integer at any scale, overflow-free past 10^38.

def _avg_round6(units: Column, scale_in: int, out_scale: int = 6) -> Column:
    """round(sum(x)/count(*), out_scale), HALF_UP, exact.  ``units`` =
    per-row bigint units of x at 10**scale_in (the column's exact
    quantization).  All arithmetic in decimal(38,0) — overflow is a loud
    ANSI error past 10^38, never a silent wrap."""
    p = F.sum(units.cast("decimal(38,0)"))
    if scale_in <= out_scale:
        ap = F.abs(p) * F.lit(10 ** (out_scale - scale_in))
        q = F.count("*")
    else:
        ap = F.abs(p)
        q = F.count("*") * F.lit(10 ** (scale_in - out_scale))
    a = ap * 2 + q
    b = q * 2
    absr = (a - a % b) / b  # exact: (a - a%b) is divisible by b
    r = F.when(p < 0, -absr).otherwise(absr)
    return r.cast("decimal(38,0)").cast("double") / F.lit(float(10**out_scale))


def _ratio_round6(num: Column, den: Column) -> Column:
    """round(num/den, 6), HALF_UP, exact — for NONNEGATIVE integer
    num/den columns (jaccard and friends).  Same engine-portability
    argument as :func:`_avg_round6`: a ratio with a 5^b-divisible
    denominator is a terminating decimal the binary double cannot hold
    exactly, so double-rounding can disagree between engines."""
    a = num.cast("decimal(38,0)") * 2 * F.lit(1_000_000) + den
    b = den.cast("decimal(38,0)") * 2
    return ((a - a % b) / b).cast("decimal(38,0)").cast("double") / F.lit(
        1_000_000.0
    )


def _ratio6_sql(num_sql: str, den_sql: str) -> str:
    """DuckDB mirror of :func:`_ratio_round6` (BIGINT // division)."""
    return (
        f"(((2 * ({num_sql})::BIGINT * 1000000 + ({den_sql}))"
        f" // (2 * ({den_sql})::BIGINT)) / 1000000.0)"
    )


def _avg6_sql(units_sql: str, scale_in: int, out_scale: int = 6) -> str:
    """The DuckDB mirror of :func:`_avg_round6` (HUGEINT // division)."""
    s = f"sum(({units_sql})::HUGEINT)"
    if scale_in <= out_scale:
        a = f"(2 * abs({s}) * {10 ** (out_scale - scale_in)} + count(*))"
        b = "(2 * count(*))"
    else:
        a = f"(2 * abs({s}) + count(*) * {10 ** (scale_in - out_scale)})"
        b = f"(2 * count(*) * {10 ** (scale_in - out_scale)})"
    return (
        f"((CASE WHEN {s} < 0 THEN -({a} // {b}) ELSE ({a} // {b}) END)"
        f" / {float(10**out_scale)})"
    )


# ---------------------------------------------------------------------------
# deterministic literal queries (seed 42) shared by Spark + oracle SQL
# ---------------------------------------------------------------------------

def _seeded_vec(dim: int, seed: int) -> list[float]:
    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]


QUERY_VEC = _seeded_vec(64, 42)
QUERY_VEC2 = _seeded_vec(64, 43)
#: sparse "query": fixed vocabulary words with weights (documents are
#: word-soup over a small vocab, see TESTDATA.md)
SPARSE_QUERY = [("spark", 2.0), ("join", 1.5), ("merge", 1.0), ("window", 0.5)]
MATCH_QUERY = "spark join merge window"
#: ColBERT-style query: 2 sub-vectors of dim 16 (docs side = embedding
#: sliced into 4 chunks of 16)
COLBERT_QUERY = [_seeded_vec(16, 44), _seeded_vec(16, 45)]
RECOMMEND_POS = [0, 1, 2]
RECOMMEND_NEG = [3]
#: synthetic geo: lat/lon derived arithmetically from c_custkey (both
#: engines compute the same formula); target point = Paris
GEO_TARGET = (48.8566, 2.3522)


def _sql_array(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


# ===========================================================================
# Relational surface (SURVEY.md §2.2-2.7 — Tier B, inherited via Catalyst)
# ===========================================================================

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal sums: exact, order-independent — double sums differ
            # between engines/partitionings in the last ulps and can flip
            # a rounding boundary
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_disc_price"),
            _avg_round6(
                F.expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)"), 2
            ).alias("avg_qty"),
            _avg_round6(
                F.expr("cast(cast(l_discount as decimal(18,6)) * 1000000 as bigint)"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,2))::DOUBLE, 2) AS sum_qty,
       round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE, 2) AS sum_base_price,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2) AS sum_disc_price,
       {_avg6_sql("(l_quantity::DECIMAL(18,2) * 100)::BIGINT", 2)} AS avg_qty,
       {_avg6_sql("(l_discount::DECIMAL(18,6) * 1000000)::BIGINT", 6)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + top-10 (TakeOrderedAndProject).
    The customer side is broadcast (small dim table)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join (5 tables): revenue by nation within a region."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q5_SQL = """
SELECT n_name,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
"""


def q_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (corpus shape tests/bin/tests.sql:233-242).

    avg_price rounds via :func:`_avg_round6` at 4 decimals — sum/count
    over 2-decimal money is a terminating decimal that can land EXACTLY
    on the half boundary (sf0.1 has three 16-order customers whose mean
    ends in ...5), where double round diverges between engines (Spark
    rounds the decimal repr HALF_UP; DuckDB rounds the binary double).
    Same integers both sides ⇒ same quotient bit-for-bit."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            _avg_round6(
                F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"),
                2,
                out_scale=4,
            ).alias("avg_price"),
        )
        .filter(F.col("n_orders") >= 12)
    )


Q_GROUP_HAVING_SQL = f"""
SELECT o_custkey, count(*) AS n_orders,
       round(max(o_totalprice), 2) AS max_price,
       {_avg6_sql("(o_totalprice::DECIMAL(18,2) * 100)::BIGINT", 2, out_scale=4)} AS avg_price
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join via IN-subquery shape (tests/bin/tests.sql:152)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


Q_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_case_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-based score boosting (corpus tests/bin/tests.sql:272-276) on a
    relational table: priority multiplier over order totalprice."""
    orders = _t(spark, sf_dir, "orders")
    boosted = (
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 1.5)
        .when(F.col("o_orderpriority") == "2-HIGH", F.col("o_totalprice") * 1.2)
        .otherwise(F.col("o_totalprice"))
    )
    return (
        orders.select("o_orderkey", F.round(boosted, 2).alias("boosted_price"))
        .orderBy(F.desc("boosted_price"), F.asc("o_orderkey"))
        .limit(20)
    )


Q_CASE_BOOST_SQL = """
SELECT o_orderkey,
       round(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.5
                  WHEN o_orderpriority = '2-HIGH' THEN o_totalprice * 1.2
                  ELSE o_totalprice END, 2) AS boosted_price
FROM orders
ORDER BY boosted_price DESC, o_orderkey ASC
LIMIT 20
"""


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via window — the lateral-join rewrite
    (tests/bin/tests.sql:327-344; SURVEY.md §2.5)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


Q_WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= 2
"""


def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with both open and finished orders
    (INTERSECT), minus the BUILDING segment (EXCEPT)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    done_c = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return open_c.intersect(done_c).exceptAll(building.distinct())


Q_SETOPS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def q_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + conditional aggregation per group."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
    )


Q_DISTINCT_AGG_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished
FROM orders
GROUP BY o_orderpriority
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation (Tier B surface, SURVEY.md §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
    )


Q_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube): three
    named aggregation grains in one scan."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


Q_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# ===========================================================================
# Events: JSON payload + time windows + sessionization
# ===========================================================================

def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload querying (the reference's payload surface, §2.8):
    filter on a JSON-extracted number, group by event type."""
    ev = _events(spark, sf_dir)
    k = payload_get_float("props", "k")
    return (
        ev.filter(has_field("props", "k") & (k > 50))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _avg_round6((k.cast("decimal(18,6)") * F.lit(1_000_000)).cast("long"), 6).alias("avg_k"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("sum_value"),
        )
    )


Q_EVENTS_JSON_SQL = f"""
SELECT event_type, count(*) AS n,
       {_avg6_sql(
           "(CAST(json_extract_string(props, '$.k') AS DOUBLE)::DECIMAL(18,6) * 1000000)::BIGINT",
           6,
       )} AS avg_k,
       round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
GROUP BY event_type
"""


def q_events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same JSON query over Spark 4's VARIANT encoding (parse once,
    typed extraction) — must produce exactly q_events_json's rows, so the
    two JSON paths (string get_json_object vs binary variant) are proven
    equivalent against one oracle."""
    from qdrant_datafusion_spark.functions.json_fns import (
        variant_get_float,
        variant_has_field,
    )

    ev = _events(spark, sf_dir)
    k = variant_get_float("props", "k")
    return (
        ev.filter(variant_has_field("props", "k") & (k > 50))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _avg_round6((k.cast("decimal(18,6)") * F.lit(1_000_000)).cast("long"), 6).alias("avg_k"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("sum_value"),
        )
    )


def q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (ordered aggregate; the
    exact sibling of q_approx_distinct's sketch path).  Spark percentile()
    and DuckDB quantile_cont share the interpolation definition."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


Q_EVENT_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax
FROM events
GROUP BY event_type
"""


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per event type, graded
    property-form like q_approx_distinct: the sketch VALUE is
    engine-specific, but GK guarantees rank error ≤ 1/accuracy, and the
    achieved rank of the returned value is exactly computable — so
    ``rank_within_bound`` (|rank(approx_p50)/n − 0.5| ≤ 2/accuracy + 1/n
    — the sketch guarantee plus one rank step of discreteness, which
    dominates for small groups) is a deterministic, oracle-checkable
    property and ``n`` carries a full value oracle.  The sketch genuinely
    executes on the Spark side; the rank probe is a broadcast join back
    over the data."""
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    ap = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 1000)").alias("ap50"),
        F.count("value").alias("n"),
    )
    ranked = (
        ev.join(F.broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("value") < F.col("ap50")).cast("long")
            ).alias("n_lt"),
            F.sum(
                (F.col("value") <= F.col("ap50")).cast("long")
            ).alias("n_le"),
            F.first("n").alias("n"),
        )
    )
    # duplicate-safe rank test (r6 ADVICE): with heavy value ties at the
    # median, n_le alone is the rank of the LAST duplicate and can exceed
    # the bound even when the sketch is within guarantee.  The returned
    # value occupies the whole rank interval [n_lt/n, n_le/n]; the gate
    # holds iff that interval intersects [0.5 − bound, 0.5 + bound].
    bound = 0.002 + 1.0 / F.col("n")
    return ranked.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (
            (F.col("n_lt") / F.col("n") <= 0.5 + bound)
            & (F.col("n_le") / F.col("n") >= 0.5 - bound)
        ).alias("rank_within_bound"),
    )


Q_APPROX_PERCENTILE_SQL = """
SELECT event_type, count(value)::BIGINT AS n, TRUE AS rank_within_bound
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg; timestamps stringified for engine-neutral comparison)."""
    ev = _events(spark, sf_dir)
    # integer FLOOR division, not `/`: Spark's `/` on longs is double
    # division, and nanosecond epochs (~1e18) exceed double's 53-bit
    # mantissa — a ts near an hour boundary could bucket differently from
    # DuckDB's exact integer `//`; _floor_div also matches `//` on
    # negative (pre-1970) timestamps, where plain `div` truncates
    hour_bucket = _floor_div("ts", 3_600_000_000_000)
    return (
        ev.groupBy(hour_bucket.alias("hour_bucket"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias("sum_value"),
        )
    )


Q_EVENTS_HOURLY_SQL = f"""
SELECT {_floor_div_sql("epoch_ns(ts)", 3_600_000_000_000)}::BIGINT
         AS hour_bucket,
       event_type, count(*) AS n, round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user via lag + cumulative
    sum (the batch sibling of streaming session_window)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        (F.col("ts") - F.lag("ts").over(w)) > 1_800_000_000_000, 1
    ).otherwise(0)
    # first event of each user has lag NULL -> counts as a new session
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull(), 1).otherwise(gap),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


Q_EVENTS_SESSIONS_SQL = """
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   THEN 1
              WHEN epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000000
                   THEN 1
              ELSE 0 END AS new_session
  FROM events
)
GROUP BY user_id
"""


# ===========================================================================
# Vector search surface (SURVEY.md §2.11 — the V_* functions)
# ===========================================================================

def _emb_oracle_prelude() -> str:
    return f"""
WITH q AS (SELECT {_sql_array(QUERY_VEC)}::DOUBLE[] AS qv)
"""


def v_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_SEARCH cosine top-10 (corpus tests/bin/tests.sql:10-13): score,
    round, ORDER BY (rounded score, id) so boundary ties are deterministic."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.round(v_search("embedding", QUERY_VEC, "cosine"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


V_SEARCH_TOPK_SQL = _emb_oracle_prelude() + """
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def v_search_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME cosine top-10 as v_search_topk, but through the Spark-4
    Python UDTF surface (SURVEY §2.10): V_SEARCH_TABLE(TABLE(emb), q, k)
    emits each partition's bounded top-k from terminate(), and the outer
    ORDER BY ... LIMIT refines n_partitions*k rows to the global answer
    (two-phase top-k — the UDTF never needs a single partition).  Oracle
    is v_search_topk's verbatim: the two paths must agree exactly.

    The query vector and k arrive via ``spark.sql`` named-parameter
    binding (``:qjson`` / ``:k``), not string interpolation — the
    convention for SQL built from runtime values."""
    import json as _json

    from qdrant_datafusion_spark.functions.registry import register_all

    register_all(spark)
    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("_udtf_emb")
    return spark.sql(
        """
        SELECT vec_id, score
        FROM V_SEARCH_TABLE(
          TABLE(SELECT vec_id, embedding FROM _udtf_emb), :qjson, :k)
        ORDER BY score DESC, vec_id ASC
        LIMIT :k
        """,
        args={"qjson": _json.dumps(QUERY_VEC), "k": 10},
    )


def v_search_brp_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop ANN: top-10 EUCLIDEAN neighbors of the query vector
    via the stock BucketedRandomProjectionLSH.approxNearestNeighbors
    (array_to_vector bridge, seeded ⇒ deterministic candidates), with
    the emitted distance recomputed by the house euclid kernel.  The
    oracle is the EXACT euclid top-10 — at the gate's bucket length the
    seeded single-probe candidate set must contain the true top-10
    (verified at all three SFs), the same full-recall contract the
    MinHashLSH interop gate makes."""
    from qdrant_datafusion_spark.operators.ann import knn_brp_mllib

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_brp_mllib(
        emb, "embedding", QUERY_VEC, 10, id_col="vec_id",
        num_hash_tables=10, bucket_length=2.0, seed=7,
    )
    return out.select(
        "vec_id", F.round(F.col("distance"), 6).alias("distance")
    )


V_SEARCH_BRP_MLLIB_SQL = _emb_oracle_prelude() + """
SELECT vec_id,
       round(sqrt(list_dot_product(
           list_transform(generate_series(1, len(embedding)),
                          i -> embedding[i]::DOUBLE - qv[i]),
           list_transform(generate_series(1, len(embedding)),
                          i -> embedding[i]::DOUBLE - qv[i]))), 6) AS distance
FROM embeddings, q
WHERE embedding IS NOT NULL
ORDER BY distance ASC, vec_id ASC
LIMIT 10
"""


def v_search_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_SEARCH with explicit dot metric."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.round(v_search("embedding", QUERY_VEC, "dot"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


V_SEARCH_DOT_SQL = _emb_oracle_prelude() + """
SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def v_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_DISTANCE + V_WITHIN: euclid distance under a radius
    (tests/bin/tests.sql:42-51)."""
    emb = _t(spark, sf_dir, "embeddings")
    dist = F.round(euclid_distance(F.col("embedding"), QUERY_VEC), 6)
    return (
        emb.select("vec_id", dist.alias("distance"))
        .filter(F.col("distance") < 4.5)
    )


V_WITHIN_SQL = _emb_oracle_prelude() + """
SELECT vec_id, distance FROM (
  SELECT vec_id,
         round(sqrt(list_dot_product(
             list_transform(generate_series(1, len(embedding)),
                            i -> embedding[i]::DOUBLE - qv[i]),
             list_transform(generate_series(1, len(embedding)),
                            i -> embedding[i]::DOUBLE - qv[i]))), 6) AS distance
  FROM embeddings, q
)
WHERE distance < 4.5
"""


def v_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_RECOMMEND by-id (tests/bin/tests.sql:83-98): composite =
    avg(pos) - avg(neg) resolved from the collection, examples excluded."""
    emb = _t(spark, sf_dir, "embeddings")
    examples = (
        emb.filter(F.col("vec_id").isin(RECOMMEND_POS + RECOMMEND_NEG))
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in examples
        if r.embedding is not None
    }
    missing = [i for i in (*RECOMMEND_POS, *RECOMMEND_NEG) if i not in by_id]
    if missing:
        # Qdrant errors on unknown example point ids; a bare KeyError /
        # TypeError here (empty collection, or a point whose vector is
        # NULL) would hide which id is unusable
        raise ValueError(f"V_RECOMMEND example ids not in collection: {missing}")
    composite = recommend_composite(
        [by_id[i] for i in RECOMMEND_POS], [by_id[i] for i in RECOMMEND_NEG]
    )
    return (
        emb.filter(~F.col("vec_id").isin(RECOMMEND_POS + RECOMMEND_NEG))
        .select(
            "vec_id",
            F.round(v_search("embedding", composite, "cosine"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


V_RECOMMEND_SQL = f"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS e
  FROM embeddings WHERE vec_id IN (0, 1, 2, 3)
),
comp AS (
  SELECT i,
         avg(e) FILTER (vec_id IN (0, 1, 2))
         - avg(e) FILTER (vec_id IN (3)) AS c
  FROM ex GROUP BY i
),
compv AS (SELECT list(c ORDER BY i) AS cv FROM comp)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], cv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(cv, cv))), 6) AS score
FROM embeddings, compv
WHERE vec_id NOT IN (0, 1, 2, 3)
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def v_colbert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_COLBERT MaxSim (tests/bin/tests.sql:157-168).  The embeddings table
    has no multi-vector column, so each 64-dim embedding is viewed as a
    4x16 multi-vector (4 chunks) — the MaxSim kernel itself is the real
    operator under test."""
    from qdrant_datafusion_spark.functions.multivector import v_colbert

    emb = _t(spark, sf_dir, "embeddings")
    mv = F.array(*[F.slice("embedding", 1 + 16 * c, 16) for c in range(4)])
    return (
        emb.withColumn("mv", mv)
        .select(
            "vec_id",
            F.round(v_colbert("mv", COLBERT_QUERY), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


V_COLBERT_SQL = f"""
WITH q AS (SELECT {_sql_array(COLBERT_QUERY[0])}::DOUBLE[] AS q1,
                  {_sql_array(COLBERT_QUERY[1])}::DOUBLE[] AS q2),
chunks AS (
  SELECT vec_id,
         [embedding[1:16]::DOUBLE[], embedding[17:32]::DOUBLE[],
          embedding[33:48]::DOUBLE[], embedding[49:64]::DOUBLE[]] AS mv
  FROM embeddings
)
SELECT vec_id,
       round(greatest(list_dot_product(mv[1], q1), list_dot_product(mv[2], q1),
                      list_dot_product(mv[3], q1), list_dot_product(mv[4], q1))
             + greatest(list_dot_product(mv[1], q2), list_dot_product(mv[2], q2),
                        list_dot_product(mv[3], q2), list_dot_product(mv[4], q2)),
             6) AS score
FROM chunks, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def _sparse_score_col() -> "F.Column":
    """Σ weight * count(word in tokens) — the sparse dot with a term-count
    sparse encoding of documents.

    tokens() is a pure whitespace split of lower(trim(text)), so "count of
    tokens equal to w" == "occurrences of w bounded by whitespace in the
    space-padded text" — countable with codegen'd ``regexp_count`` instead
    of an interpreted tokenize-then-filter HOF chain (~3× on the bench)."""
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" "))
    score = None
    for word, weight in SPARSE_QUERY:
        cnt = F.regexp_count(
            padded, F.lit(f"(?<=\\s){re.escape(word)}(?=\\s)")
        )
        term = cnt.cast("double") * F.lit(weight)
        score = term if score is None else score + term
    return score


def v_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_SPARSE_SEARCH (tests/bin/tests.sql:67-77): documents as term-count
    sparse vectors vs a weighted term query."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.round(_sparse_score_col(), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


_SPARSE_TERMS_SQL = " + ".join(
    f"len(list_filter(toks, x -> x = '{w}'))::DOUBLE * {wt}"
    for w, wt in SPARSE_QUERY
)

V_SPARSE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, round({_SPARSE_TERMS_SQL}, 6) AS score
FROM t
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def v_fusion_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse RRF fusion (tests/bin/tests.sql:175-196,
    350-383): dense branch over embeddings, sparse branch over documents,
    rank each, fuse 1/(60+rank), top-20.  True rank-based RRF (window
    functions), not the scalar approximation."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")

    dense = emb.select(
        F.col("vec_id").alias("id"),
        F.round(v_search("embedding", QUERY_VEC, "cosine"), 6).alias("score"),
    )
    sparse = docs.select(
        F.col("doc_id").alias("id"), F.round(_sparse_score_col(), 6).alias("score")
    )
    # scale-critical ordering: TakeOrderedAndProject (parallel per-partition
    # k-heaps) truncates each branch to 100 rows FIRST (per_branch_limit);
    # the global row_number window then ranks only those 100 — never a
    # full-table single-partition sort
    from qdrant_datafusion_spark.functions.fusion import rrf_fuse

    fused = (
        rrf_fuse([dense, sparse], on="id", per_branch_limit=100)
        .select("id", F.round("fused_score", 6).alias("fused_score"))
        .orderBy(F.desc("fused_score"), F.asc("id"))
        .limit(20)
    )
    return fused


V_FUSION_SQL = _emb_oracle_prelude() + f""",
dense AS (
  SELECT vec_id AS id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS score
  FROM embeddings, q
),
dense_r AS (
  SELECT * FROM (
    SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rd FROM dense
  ) WHERE rd <= 100
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
),
sparse AS (
  SELECT doc_id AS id, round({_SPARSE_TERMS_SQL}, 6) AS score FROM toks
),
sparse_r AS (
  SELECT * FROM (
    SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rs FROM sparse
  ) WHERE rs <= 100
)
SELECT coalesce(dense_r.id, sparse_r.id) AS id,
       round(coalesce(1.0 / (60 + rd), 0) + coalesce(1.0 / (60 + rs), 0), 6)
           AS fused_score
FROM dense_r FULL OUTER JOIN sparse_r ON dense_r.id = sparse_r.id
ORDER BY fused_score DESC, id ASC
LIMIT 20
"""


def v_geo_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_GEO_DISTANCE + V_GAUSS_DECAY boosting (tests/bin/tests.sql:282-303).
    Customers get deterministic synthetic coordinates (pure integer
    arithmetic on c_custkey — identical in the oracle); score = gaussian
    decay of haversine distance to the target point."""
    cust = _t(spark, sf_dir, "customer")
    lat = ((F.col("c_custkey") * 7) % 140 - 70 + 0.5).cast("double")
    lon = ((F.col("c_custkey") * 13) % 340 - 170 + 0.5).cast("double")
    dist = v_geo_distance(lat, lon, GEO_TARGET[0], GEO_TARGET[1])
    return (
        cust.select(
            "c_custkey",
            F.round(dist, 2).alias("distance_m"),
            F.round(v_gauss_decay(dist, 1_000_000.0), 6).alias("decay"),
        )
        .orderBy(F.desc("decay"), F.asc("c_custkey"))
        .limit(15)
    )


V_GEO_SQL = f"""
WITH pts AS (
  SELECT c_custkey,
         ((c_custkey * 7) % 140 - 70 + 0.5)::DOUBLE AS lat,
         ((c_custkey * 13) % 340 - 170 + 0.5)::DOUBLE AS lon
  FROM customer
),
d AS (
  SELECT c_custkey,
         2.0 * 6371000.0 * atan2(
           sqrt(sin(radians({GEO_TARGET[0]} - lat) / 2) ^ 2
                + cos(radians(lat)) * cos(radians({GEO_TARGET[0]}))
                  * sin(radians({GEO_TARGET[1]} - lon) / 2) ^ 2),
           sqrt(1 - (sin(radians({GEO_TARGET[0]} - lat) / 2) ^ 2
                     + cos(radians(lat)) * cos(radians({GEO_TARGET[0]}))
                       * sin(radians({GEO_TARGET[1]} - lon) / 2) ^ 2))) AS dist
  FROM pts
)
SELECT c_custkey, round(dist, 2) AS distance_m,
       round(exp(-(dist * dist) / (2.0 * 1000000.0 * 1000000.0)), 6) AS decay
FROM d
ORDER BY decay DESC, c_custkey ASC
LIMIT 15
"""


def match_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_TEXT term-overlap relevance (tests/bin/tests.sql:210-214)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.round(match_text("text", MATCH_QUERY), 6).alias("relevance"),
        )
        .filter(F.col("relevance") >= 0.75)
    )


_MATCH_TERMS = MATCH_QUERY.split()
MATCH_TEXT_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       round(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _MATCH_TERMS)})::DOUBLE
             / {len(_MATCH_TERMS)}, 6) AS relevance
FROM t
WHERE round(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _MATCH_TERMS)})::DOUBLE
            / {len(_MATCH_TERMS)}, 6) >= 0.75
"""


# ===========================================================================
# Training-data pipeline surface (dedup / text analysis / fingerprints)
# ===========================================================================

_TOKS_SQL = """
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
"""

#: distinct 3-word shingles, mirroring functions.text.word_shingles(k=3)
_SHINGLES_SQL = f"""
WITH t AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [] END AS shingles
  FROM t
)
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash (hash-groupBy; the shuffle
    key is the 32-char md5, not the document)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash,
       count(*) AS dup_count
FROM documents
GROUP BY md5(lower(trim(text)))
"""


def _doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard near-dup pair table (id_a, id_b, inter, n_union,
    jaccard) over documents at the shared gate parameters (k=3,
    threshold=0.2), built once per (session, sf_dir) and eagerly pinned.
    Four gates read it (dedup_ngram_jaccard, dedup_clusters,
    pipeline_group_split, dedup_source_overlap): one shingle-explode
    self-join instead of four (guide §2.4 — remove repeated shuffles
    outright; the production mirror is a persisted near-dup pair table
    maintained alongside the corpus)."""

    def build(pin):
        docs = _t(spark, sf_dir, "documents")
        pairs = ngram_jaccard_dups(docs, "text", "doc_id", k=3, threshold=0.2)
        return pin(pairs, lineage=False)

    return shared_build(spark, ("jaccard_pairs", sf_dir), build)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs at threshold 0.2.  The
    presented jaccard rounds via :func:`_ratio_round6` on the operator's
    integer inter/union — engine-portable at any fixture size."""
    pairs = _doc_jaccard_pairs(spark, sf_dir)
    return pairs.select(
        "id_a", "id_b", _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard")
    )


_J_INTER = "len(list_intersect(a.shingles, b.shingles))"
_J_UNION = f"(len(a.shingles) + len(b.shingles) - {_J_INTER})"
DEDUP_JACCARD_SQL = _SHINGLES_SQL + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {_ratio6_sql(_J_INTER, _J_UNION)} AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {_J_INTER} > 0
  AND {_J_INTER}::DOUBLE / {_J_UNION} >= 0.2
"""


def _doc_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash bucket table over documents at the shared gate
    parameters (k=3, 32 hashes, 16 bands), built once per
    (session, sf_dir) and eagerly pinned.  The MinHash gates derive
    their differences (cap, corpus/batch split, boilerplate union) FROM
    the table, never by rebuilding it; the library mirror is the
    persisted signature table (dedup.minhash_buckets + write.bucketBy) a
    production deployment maintains across ingests."""

    def build(pin):
        docs = _t(spark, sf_dir, "documents")
        b = minhash_buckets(docs, "text", "doc_id", k=3, num_hashes=32, bands=16)
        return pin(b, lineage=False)

    return shared_build(spark, ("minhash", sf_dir), build)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.
    The oracle is the *exact* Jaccard pair set — this asserts the LSH stage
    reaches full recall at the chosen banding (32 hashes, 16 bands), which
    it must for the verified-pairs contract."""
    docs = _t(spark, sf_dir, "documents")
    # max_bucket_size=None: the oracle models the UNCAPPED complete-pairs
    # contract, so the gate must run it; production keeps the skew cap
    pairs = minhash_lsh_dups(
        docs, "text", "doc_id", k=3, num_hashes=32, bands=16, threshold=0.2,
        max_bucket_size=None, buckets=_doc_minhash_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard")
    )


def dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop cross-check: the SAME exact-Jaccard pair set as
    dedup_minhash, but with the stock ``pyspark.ml`` MinHashLSH as the
    candidate generator (seeded ⇒ deterministic) and the house
    fingerprint kernel as the verify — proving a pipeline standardized
    on MLlib's LSH primitives plugs into this engine and reaches the
    identical answer.  Shares dedup_minhash's exact-pairs oracle
    verbatim: at 32 single-row hash tables P(miss) = (1−J)^32 ≤ 1e-9
    for the fixture's J ≥ 0.5 pairs, so full recall is the contract,
    not a hope."""
    from qdrant_datafusion_spark.operators.dedup import (
        minhash_lsh_dups_mllib,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dups_mllib(
        docs, "text", "doc_id", k=3, num_hash_tables=32, threshold=0.2,
        seed=7,
    )
    return pairs.select(
        "id_a",
        "id_b",
        _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard"),
    )


def _doc_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded SimHash block-bucket table over documents at the
    shared gate geometry (max_hamming=4, blocks=5), built once per
    (session, sf_dir) and pinned; the three SimHash gates read it, and
    the capped ones union a boilerplate-only build (per-doc independence
    makes the union exact, as for MinHash)."""
    from qdrant_datafusion_spark.operators.dedup import simhash_buckets

    def build(pin):
        docs = _t(spark, sf_dir, "documents")
        b = simhash_buckets(docs, "text", "doc_id", max_hamming=4, blocks=5)
        return pin(b, lineage=False)

    return shared_build(spark, ("simhash", sf_dir), build)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 4 on 60-bit signatures) via exact
    block-permutation candidate search (5 blocks of 12 bits ⇒
    pigeonhole-complete; wider blocks keep candidate buckets small)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_dups(
        docs, "text", "doc_id", max_hamming=4, blocks=5, max_bucket_size=None,
        buckets=_doc_simhash_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# oracle recomputes the identical md5-based simhash in SQL, then brute-forces
# pairs — slow but exact, and engine-independent
DEDUP_SIMHASH_SQL = f"""
WITH t AS ({_TOKS_SQL}),
tok AS (
  SELECT doc_id, substring(md5(unnest(toks)), 1, 15) AS h
  FROM t
),
bits AS (
  SELECT doc_id, p,
         CASE WHEN ((strpos('0123456789abcdef', substring(h, (p // 4) + 1, 1)) - 1)
                    >> (3 - (p % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM tok, (SELECT unnest(generate_series(0, 59)) AS p)
),
votes AS (
  SELECT doc_id, p, sum(vote) AS v FROM bits GROUP BY doc_id, p
),
sigs AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << (59 - p)) ELSE 0 END) AS sig
  FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 4
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring aggregated per source (curation pre-filter shape)."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_score("text", stopwords=("the", "a"))
    return (
        docs.groupBy("source")
        .agg(
            _avg_round6(
                (q.cast("decimal(18,12)") * F.lit(10**12)).cast("long"), 12
            ).alias("avg_quality"),
            F.count("*").alias("n_docs"),
        )
    )


TEXT_QUALITY_SQL = """
WITH q AS (
  SELECT source,
         0.4 * least(length(text)::DOUBLE / 1000.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                            / length(text)
                       ELSE 0 END)
         + 0.3 * ((list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                             x -> x <> ''), 'the')::INT
                   + list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                               x -> x <> ''), 'a')::INT)::DOUBLE / 2)
         AS quality
  FROM documents
)
SELECT source,
       {AVG_QUALITY_EXPR} AS avg_quality,
       count(*) AS n_docs
FROM q GROUP BY source
"""
TEXT_QUALITY_SQL = TEXT_QUALITY_SQL.replace(
    "{AVG_QUALITY_EXPR}",
    _avg6_sql("(quality::DECIMAL(18,12) * 1000000000000)::BIGINT", 12),
)


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            _avg_round6(token_count("text").cast("long"), 0).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
            F.count("*").alias("n_docs"),
        )
    )


_TOKENS_UNITS_SQL = (
    "len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), x -> x <> ''))"
)
TEXT_TOKEN_SQL = f"""
SELECT lang,
       {_avg6_sql(_TOKENS_UNITS_SQL, 0)} AS avg_tokens,
       max(n_chars) AS max_chars,
       count(*) AS n_docs
FROM documents
GROUP BY lang
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per declared lang, the average English
    stopword-profile score (the scoring kernel is the operator under test)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.round(F.avg(language_score("text", "en")), 6).alias("avg_en_score"))
    )


_EN_PROFILE = ("the", "and", "of", "to", "a", "in", "is", "that")
TEXT_LANG_SQL = f"""
WITH t AS ({_TOKS_SQL})
SELECT lang,
       round(avg(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _EN_PROFILE)})::DOUBLE
                 / {len(_EN_PROFILE)}), 6) AS avg_en_score
FROM t JOIN documents USING (doc_id)
GROUP BY lang
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: min-shingle-md5 signature per document
    (deterministic near-dup bucket key), first 20 by fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", doc_fingerprint("text", k=3).alias("fingerprint"))
        .orderBy(F.asc("fingerprint"), F.asc("doc_id"))
        .limit(20)
    )


DOC_FINGERPRINT_SQL = _SHINGLES_SQL + """
SELECT doc_id,
       CASE WHEN len(shingles) > 0
            THEN list_min(list_transform(shingles, s -> md5(s)))
            ELSE md5((SELECT lower(trim(text)) FROM documents d
                      WHERE d.doc_id = sh.doc_id)) END AS fingerprint
FROM sh
ORDER BY fingerprint ASC, doc_id ASC
LIMIT 20
"""


def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing check: documents as opaque binary blobs with
    typed metadata — per-source byte statistics (encode → binary column)."""
    docs = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return (
        docs.groupBy("source")
        .agg(
            F.sum(F.octet_length(blob)).alias("total_bytes"),
            F.max(F.octet_length(blob)).cast("long").alias("max_bytes"),
        )
    )


MULTIMODAL_BYTES_SQL = """
SELECT source,
       sum(octet_length(encode(text)))::BIGINT AS total_bytes,
       max(octet_length(encode(text)))::BIGINT AS max_bytes
FROM documents
GROUP BY source
"""


def _emb_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact embedding-cosine pair table (id_a, id_b, cosine) at the
    shared gate threshold 0.35, built once per (session, sf_dir) and
    pinned: dedup_embedding and dedup_embedding_recall share one
    blocked-GEMM grid instead of two."""
    from qdrant_datafusion_spark.operators.dedup import embedding_near_dups

    def build(pin):
        emb = _t(spark, sf_dir, "embeddings")
        p = embedding_near_dups(emb, "embedding", "vec_id", threshold=0.35)
        return pin(p, lineage=False)

    return shared_build(spark, ("emb_exact_pairs", sf_dir), build)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold tuned to the synthetic
    cluster structure).  Brute-force exact here; the LSH-bucketed variant
    (operators.dedup.embedding_near_dups with planes) is the scale path.

    block_size is auto (operators.ann._auto_gemm_nblocks): the grid
    floors at 4 blocks, so the cross-block path stays exercised even at
    the small correctness SFs (a single block would hide pair-ordering
    bugs in the block-pair kernel), while large corpora get corpus-sized
    blocks instead of 256-row ones (round 13: the fixed 256 shipped
    every vector through Arrow ~n/256 times)."""
    pairs = _emb_exact_pairs(spark, sf_dir)
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= 0.35)


DEDUP_EMBEDDING_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
            6) >= 0.35
"""


def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-kNN join: each embedding's exact top-5 neighbors (the kNN-graph
    builder).  The auto-sized GEMM grid floors at 4 blocks, so the gate
    exercises the cross-block candidate path at every SF.  Rides the
    per-(session, sf_dir) memoized table the three graph gates share."""
    out = _knn_table(spark, sf_dir)
    return out.select(
        "id", "nbr_id", "score", F.col("rank").cast("long").alias("rank")
    )


ANN_KNN_GRAPH_SQL = """
WITH scored AS (
  SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
               6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
),
ranked AS (
  SELECT id, nbr_id, score,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT id, nbr_id, score, rank FROM ranked WHERE rank <= 5
"""


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-25 tokens by term frequency with doc
    frequency (tokenizer-building stage of a training-data pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, "text", "doc_id", top_n=25)


TEXT_VOCAB_SQL = f"""
WITH t AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t)
SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
FROM tok GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 25
"""


TFIDF_QUERY_TERMS = ["spark", "shuffle", "partition", "join"]


def match_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF ranked retrieval — MATCH_TEXT's scale path (corpus-derived
    idf, codegen'd per-term tf, broadcast stats, single top-k)."""
    docs = _t(spark, sf_dir, "documents")
    return tfidf_rank(docs, "text", "doc_id", " ".join(TFIDF_QUERY_TERMS), k=10)


def _tfidf_sql() -> str:
    terms = TFIDF_QUERY_TERMS
    tf_exprs = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::INT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n       ".join(
        f"sum((tf{i} > 0)::INT)::BIGINT AS df{i}" for i in range(len(terms))
    )
    score = " + ".join(
        f"(CASE WHEN df{i} > 0 THEN tf{i}::DOUBLE * ln(n::DOUBLE / df{i}::DOUBLE) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH t AS ({_TOKS_SQL}),
tf AS (
SELECT doc_id,
       {tf_exprs}
FROM t
),
d AS (
SELECT count(*)::BIGINT AS n,
       {df_exprs}
FROM tf
)
SELECT doc_id, round({score}, 6) AS score
FROM tf, d
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


MATCH_TFIDF_SQL = _tfidf_sql()


def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery shape (each order vs its customer's
    average total), executed as SQL text — Catalyst decorrelates it into
    an aggregate + join, which is exactly the rewrite you'd hand-write at
    scale.  Top-20 by margin for a bounded result."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_orders_corr")
    return spark.sql("""
        SELECT o_orderkey,
               o_custkey,
               ROUND(CAST(o_totalprice AS DOUBLE), 2) AS totalprice
        FROM _orders_corr o
        WHERE o_totalprice > 2 * (
          SELECT AVG(i.o_totalprice) FROM _orders_corr i
          WHERE i.o_custkey = o.o_custkey
        )
        ORDER BY totalprice DESC, o_orderkey ASC
        LIMIT 20
    """)


Q_ABOVE_AVG_SQL = """
SELECT o_orderkey, o_custkey,
       round(o_totalprice::DOUBLE, 2) AS totalprice
FROM orders o
WHERE o_totalprice > 2 * (
  SELECT avg(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
ORDER BY totalprice DESC, o_orderkey ASC
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly promo revenue share — fact⨝dim with the
    dim broadcast (part is small at every SF relative to lineitem) and a
    conditional aggregate over the joined stream."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * (
                    F.sum(promo_rev).cast("double")
                    / F.sum(rev).cast("double")
                ),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n_items"),
        )
    )


Q14_SQL = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(100.0 * (sum(CASE WHEN p_type = 'PROMO'
                               THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,6)
                               ELSE 0::DECIMAL(18,6) END)::DOUBLE
                      / sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE),
             4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation best supplier by account balance (TPC-H Q2's min-cost-
    supplier shape, window-rewritten): broadcast dim join + per-group
    top-1 window, id tie-break."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            "s_name",
            F.round(F.col("s_acctbal").cast("double"), 2).alias("acctbal"),
        )
    )


Q_TOP_SUPPLIER_SQL = """
WITH ranked AS (
  SELECT n_name, s_name, s_acctbal,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, s_name, round(s_acctbal::DOUBLE, 2) AS acctbal
FROM ranked WHERE rn = 1
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-Jaccard near-dup pairs → (id,
    cluster_id) survivor map.  cluster_id = min member id, so survivor
    selection is `WHERE id = cluster_id`.  Spark side is iterative
    min-label propagation (O(diameter) rounds, each one join + one agg);
    oracle is a DuckDB recursive CTE computing the same components."""
    pairs = _doc_jaccard_pairs(spark, sf_dir)
    return dup_clusters(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# same pair set as DEDUP_JACCARD_SQL, then transitive closure: each node's
# cluster_id is the min id reachable from it (UNION dedups → terminates).
# The CTE chain is shared by DEDUP_CLUSTERS_SQL and the leakage-safe
# PIPELINE_GROUP_SPLIT_SQL, which attach different final SELECTs.
_CLUSTERS_CTE_SQL = _SHINGLES_SQL.replace(
    "WITH t AS", "WITH RECURSIVE t AS", 1
) + """
, pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b AS src, id_a AS dst FROM pr
),
walk(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id
)
"""

DEDUP_CLUSTERS_SQL = _CLUSTERS_CTE_SQL + """
SELECT id::BIGINT AS id, min(label)::BIGINT AS cluster_id
FROM walk GROUP BY id
"""


# ===========================================================================
# registry
# ===========================================================================

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # relational (Tier B surface)
    "q1_pricing_summary": q1_pricing_summary,
    "q3_topk_revenue": q3_topk_revenue,
    "q5_nation_revenue": q5_nation_revenue,
    "q_group_having": q_group_having,
    "q_semi_join": q_semi_join,
    "q_anti_join": q_anti_join,
    "q_case_boost": q_case_boost,
    "q_window_topk_per_group": q_window_topk_per_group,
    "q_setops": q_setops,
    "q_distinct_aggregates": q_distinct_aggregates,
    "q_rollup": q_rollup,
    "q_grouping_sets": q_grouping_sets,
    # events / JSON / time
    "q_events_json": q_events_json,
    "q_events_json_variant": q_events_json_variant,
    "q_event_percentiles": q_event_percentiles,
    "q_events_hourly": q_events_hourly,
    "q_events_sessions": q_events_sessions,
    # vector search (V_* surface)
    "v_search_topk": v_search_topk,
    # same answer through the Spark-4 Python UDTF surface (SURVEY §2.10)
    "v_search_udtf": v_search_udtf,
    "v_search_brp_mllib": v_search_brp_mllib,
    "v_search_dot_topk": v_search_dot_topk,
    "v_within_radius": v_within_radius,
    "v_recommend_topk": v_recommend_topk,
    "v_colbert_topk": v_colbert_topk,
    "v_sparse_topk": v_sparse_topk,
    "v_fusion_hybrid": v_fusion_hybrid,
    "v_geo_decay_topk": v_geo_decay_topk,
    "match_text_topk": match_text_topk,
    # training-data pipeline
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash": dedup_minhash,
    "dedup_minhash_mllib": dedup_minhash_mllib,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "text_quality": text_quality,
    "text_token_stats": text_token_stats,
    "text_lang_id": text_lang_id,
    "doc_fingerprints": doc_fingerprints,
    "multimodal_bytes": multimodal_bytes,
    "dedup_clusters": dedup_clusters,
    "q14_promo_revenue": q14_promo_revenue,
    "q_top_supplier_per_nation": q_top_supplier_per_nation,
    "q_above_avg_orders": q_above_avg_orders,
    "ann_knn_graph": ann_knn_graph,
    "text_vocabulary": text_vocabulary,
    "match_text_tfidf": match_text_tfidf,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_topk_revenue": Q3_SQL,
    "q5_nation_revenue": Q5_SQL,
    "q_group_having": Q_GROUP_HAVING_SQL,
    "q_semi_join": Q_SEMI_JOIN_SQL,
    "q_anti_join": Q_ANTI_JOIN_SQL,
    "q_case_boost": Q_CASE_BOOST_SQL,
    "q_window_topk_per_group": Q_WINDOW_TOPK_SQL,
    "q_setops": Q_SETOPS_SQL,
    "q_distinct_aggregates": Q_DISTINCT_AGG_SQL,
    "q_rollup": Q_ROLLUP_SQL,
    "q_grouping_sets": Q_GROUPING_SETS_SQL,
    "q_events_json": Q_EVENTS_JSON_SQL,
    # the variant path must match the string-JSON oracle exactly
    "q_events_json_variant": Q_EVENTS_JSON_SQL,
    "q_event_percentiles": Q_EVENT_PERCENTILES_SQL,
    "q_events_hourly": Q_EVENTS_HOURLY_SQL,
    "q_events_sessions": Q_EVENTS_SESSIONS_SQL,
    "v_search_topk": V_SEARCH_TOPK_SQL,
    # the UDTF path must match the scalar-kernel top-k oracle verbatim
    "v_search_udtf": V_SEARCH_TOPK_SQL,
    # the BRP interop ANN must reach the exact euclid top-10
    "v_search_brp_mllib": V_SEARCH_BRP_MLLIB_SQL,
    "v_search_dot_topk": V_SEARCH_DOT_SQL,
    "v_within_radius": V_WITHIN_SQL,
    "v_recommend_topk": V_RECOMMEND_SQL,
    "v_colbert_topk": V_COLBERT_SQL,
    "v_sparse_topk": V_SPARSE_SQL,
    "v_fusion_hybrid": V_FUSION_SQL,
    "v_geo_decay_topk": V_GEO_SQL,
    "match_text_topk": MATCH_TEXT_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    # dedup_minhash intentionally shares the exact-jaccard oracle: LSH must
    # reach full recall for the verified-pairs contract to hold
    "dedup_minhash": DEDUP_JACCARD_SQL,
    # the MLlib interop tier must reach the SAME exact pair set
    "dedup_minhash_mllib": DEDUP_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_token_stats": TEXT_TOKEN_SQL,
    "text_lang_id": TEXT_LANG_SQL,
    "doc_fingerprints": DOC_FINGERPRINT_SQL,
    "multimodal_bytes": MULTIMODAL_BYTES_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q_top_supplier_per_nation": Q_TOP_SUPPLIER_SQL,
    "q_above_avg_orders": Q_ABOVE_AVG_SQL,
    "ann_knn_graph": ANN_KNN_GRAPH_SQL,
    "text_vocabulary": TEXT_VOCAB_SQL,
    "match_text_tfidf": MATCH_TFIDF_SQL,
}


# ===========================================================================
# batch / two-stage search operators (corpus composite patterns)
# ===========================================================================

BATCH_QUERIES = [(1, _seeded_vec(64, 50)), (2, _seeded_vec(64, 51)), (3, _seeded_vec(64, 52))]


def v_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query search — the corpus's ``VALUES ... CROSS JOIN
    LATERAL top-5`` pattern (tests/bin/tests.sql:327-344), window-rewritten
    (broadcast queries + one scoring pass + per-query rank)."""
    from qdrant_datafusion_spark.operators.topk import batch_search

    emb = _t(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        BATCH_QUERIES, "query_id int, query_vec array<double>"
    )
    out = batch_search(
        emb.select(F.col("vec_id").alias("id"), "embedding"),
        queries,
        "embedding",
        k=5,
        metric="cosine",
    )
    return out.select(
        "query_id", "id", F.round("score", 6).alias("score")
    ).orderBy("query_id", F.desc("score"), F.asc("id"))


def _batch_values_sql() -> str:
    rows = ", ".join(
        f"({qid}, {_sql_array(vec)}::DOUBLE[])" for qid, vec in BATCH_QUERIES
    )
    return f"(VALUES {rows}) AS q(query_id, qv)"


V_BATCH_SEARCH_SQL = f"""
WITH scored AS (
  SELECT q.query_id, e.vec_id AS id,
         round(list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
  FROM embeddings e CROSS JOIN {_batch_values_sql()}
),
ranked AS (
  SELECT query_id, id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rn
  FROM scored
)
SELECT query_id, id, score FROM ranked WHERE rn <= 5
ORDER BY query_id, score DESC, id ASC
"""


def v_prefetch_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage prefetch->rerank (corpus tests/bin/tests.sql:144-168):
    broad dense-cosine top-100 prefetch, ColBERT MaxSim rerank to top-10.
    Both stages are TakeOrderedAndProject; the expensive scorer touches
    only the prefetched 100 rows."""
    from qdrant_datafusion_spark.functions.multivector import v_colbert
    from qdrant_datafusion_spark.operators.topk import prefetch_rerank

    emb = _t(spark, sf_dir, "embeddings")
    mv = F.array(*[F.slice("embedding", 1 + 16 * c, 16) for c in range(4)])
    coll = emb.select(F.col("vec_id").alias("id"), "embedding").withColumn("mv", mv)
    out = prefetch_rerank(
        coll,
        prefetch_score=F.round(v_search("embedding", QUERY_VEC, "cosine"), 6),
        rerank_score=F.round(v_colbert("mv", COLBERT_QUERY), 6),
        prefetch_n=100,
        k=10,
    )
    return out.select("id", F.round("score", 6).alias("score"))


V_PREFETCH_RERANK_SQL = f"""
WITH q AS (SELECT {_sql_array(QUERY_VEC)}::DOUBLE[] AS qv,
                  {_sql_array(COLBERT_QUERY[0])}::DOUBLE[] AS q1,
                  {_sql_array(COLBERT_QUERY[1])}::DOUBLE[] AS q2),
scored AS (
  SELECT vec_id AS id,
         round(list_dot_product(embedding::DOUBLE[], qv)
               / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                  * sqrt(list_dot_product(qv, qv))), 6) AS prefetch,
         round(greatest(list_dot_product(embedding[1:16]::DOUBLE[], q1),
                        list_dot_product(embedding[17:32]::DOUBLE[], q1),
                        list_dot_product(embedding[33:48]::DOUBLE[], q1),
                        list_dot_product(embedding[49:64]::DOUBLE[], q1))
               + greatest(list_dot_product(embedding[1:16]::DOUBLE[], q2),
                          list_dot_product(embedding[17:32]::DOUBLE[], q2),
                          list_dot_product(embedding[33:48]::DOUBLE[], q2),
                          list_dot_product(embedding[49:64]::DOUBLE[], q2)), 6) AS score
  FROM embeddings, q
),
prefetched AS (
  SELECT * FROM scored WHERE prefetch IS NOT NULL
  ORDER BY prefetch DESC, id ASC LIMIT 100
)
SELECT id, round(score, 6) AS score FROM prefetched
WHERE score IS NOT NULL
ORDER BY score DESC, id ASC LIMIT 10
"""

IVF_CENTROIDS = [_seeded_vec(64, 60 + i) for i in range(8)]


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (rows-only check: the probe set is an
    engine-internal detail; exactness is covered by v_search_topk and the
    recall test in tests/test_operators.py)."""
    from qdrant_datafusion_spark.operators.ann import assign_ivf_cells, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    assigned = assign_ivf_cells(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "embedding", IVF_CENTROIDS
    )
    out = ivf_topk(
        assigned, "embedding", QUERY_VEC, IVF_CENTROIDS, 10, nprobe=3
    )
    return out.select("id", F.round("score", 6).alias("score"))


def v_lateral_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's batch search in its LITERAL SQL form — ``VALUES ...
    CROSS JOIN LATERAL (SELECT ... V_SEARCH(...) ORDER BY score LIMIT 5)``
    (reference tests/bin/tests.sql:327-344), executed as written: Spark 4
    plans correlated LATERAL subqueries with ORDER BY/LIMIT, and V_SEARCH
    is a SQL-defined function that inlines into the plan (no Python
    boundary).  Same oracle as the window rewrite — both must agree."""
    from qdrant_datafusion_spark.functions.registry import register_all

    register_all(spark)
    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("_lateral_emb")
    values = ", ".join(
        "({}, array({}))".format(
            qid, ", ".join(f"CAST({x} AS DOUBLE)" for x in vec)
        )
        for qid, vec in BATCH_QUERIES
    )
    return spark.sql(f"""
        SELECT q.query_id, t.id, t.score
        FROM (VALUES {values}) AS q(query_id, qv),
        LATERAL (
          SELECT e.vec_id AS id,
                 ROUND(V_SEARCH(CAST(e.embedding AS ARRAY<DOUBLE>), q.qv), 6) AS score
          FROM _lateral_emb e
          ORDER BY score DESC, id ASC
          LIMIT 5
        ) t
        ORDER BY q.query_id, t.score DESC, t.id ASC
    """)


def _ivf_oracle_sql() -> str:
    """IVF is exactly SQL-expressible here because the centroids are seeded
    literals: cell = first-argmax of centroid dot products (list_position
    mirrors Spark's array_position first-occurrence tie rule), probe set
    precomputed from the same literals the operator uses."""
    q = [float(x) for x in QUERY_VEC]
    cscores = [
        (i, sum(a * b for a, b in zip(q, c))) for i, c in enumerate(IVF_CENTROIDS)
    ]
    probe = [i for i, _ in sorted(cscores, key=lambda t: -t[1])[:3]]
    cent_dots = ",\n    ".join(
        f"list_dot_product(embedding::DOUBLE[], {_sql_array(c)}::DOUBLE[])"
        for c in IVF_CENTROIDS
    )
    qarr = f"{_sql_array(q)}::DOUBLE[]"
    return f"""
WITH assigned AS (
  SELECT vec_id AS id, embedding,
         [{cent_dots}] AS cscores
  FROM embeddings
  WHERE embedding IS NOT NULL
),
cells AS (
  SELECT id, embedding,
         list_position(cscores, list_max(cscores)) - 1 AS cell
  FROM assigned
)
SELECT id,
       round(list_dot_product(embedding::DOUBLE[], {qarr})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({qarr}, {qarr}))), 6) AS score
FROM cells
WHERE cell IN ({", ".join(str(p) for p in probe)})
ORDER BY score DESC, id ASC
LIMIT 10
"""


QUERIES["v_batch_search"] = v_batch_search
QUERIES["v_lateral_batch_search"] = v_lateral_batch_search
QUERIES["v_prefetch_rerank"] = v_prefetch_rerank
QUERIES["ann_ivf_topk"] = ann_ivf_topk
ORACLES["v_batch_search"] = V_BATCH_SEARCH_SQL
# the literal LATERAL form must produce exactly the window rewrite's rows
ORACLES["v_lateral_batch_search"] = V_BATCH_SEARCH_SQL
ORACLES["v_prefetch_rerank"] = V_PREFETCH_RERANK_SQL
# seeded-literal centroids make this IVF deterministic → full value oracle
ORACLES["ann_ivf_topk"] = _ivf_oracle_sql()


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (SURVEY.md §2 pivot
    surface; oracle uses equivalent conditional aggregation)."""
    ev = _events(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .select(
            "user_id", *[F.col(t).alias(f"n_{t}") for t in types]
        )
    )


Q_PIVOT_SQL = """
SELECT user_id,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error
FROM events
GROUP BY user_id
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per returnflag, graded property-form:
    the sketch *value* is engine-specific, but Spark's HLL is deterministic
    for fixed input, so ``rel_err_ok`` (|approx − exact| / exact within a
    3σ bound of the requested rsd=0.02; measured max across sf0.001–0.1 is
    3.3 %) is a deterministic, oracle-checkable property, and
    ``exact_orders`` / ``n`` carry full value oracles.  The HLL sketch
    genuinely executes on the Spark side."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count("*").alias("n"),
    ).select(
        "l_returnflag",
        "exact_orders",
        "n",
        (
            F.abs(F.col("approx") - F.col("exact_orders"))
            <= 0.06 * F.col("exact_orders")
        ).alias("rel_err_ok"),
    )


Q_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
       count(*)::BIGINT AS n,
       TRUE AS rel_err_ok
FROM lineitem
GROUP BY l_returnflag
"""


QUERIES["q_approx_percentile"] = q_approx_percentile
ORACLES["q_approx_percentile"] = Q_APPROX_PERCENTILE_SQL
QUERIES["q_pivot_events"] = q_pivot_events
QUERIES["q_approx_distinct"] = q_approx_distinct
ORACLES["q_pivot_events"] = Q_PIVOT_SQL
ORACLES["q_approx_distinct"] = Q_APPROX_DISTINCT_SQL


DISCOVER_TARGET = _seeded_vec(64, 70)
DISCOVER_CONTEXT = [(4, 0.5), (5, -0.25)]  # (vec_id, weight)


def v_discover_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_DISCOVER (tests/bin/tests.sql:121-137): target vector combined
    with weighted context vectors resolved by id, context excluded."""
    from qdrant_datafusion_spark.functions.composite import discover_by_ids

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    out = discover_by_ids(
        emb, "embedding", DISCOVER_TARGET, list(DISCOVER_CONTEXT), metric="cosine"
    )
    return (
        out.select("id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(10)
    )


V_DISCOVER_SQL = f"""
WITH tgt AS (SELECT {_sql_array(DISCOVER_TARGET)}::DOUBLE[] AS t),
ctx_raw AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS e
  FROM embeddings
  WHERE vec_id IN ({DISCOVER_CONTEXT[0][0]}, {DISCOVER_CONTEXT[1][0]})
),
ctx AS (
  SELECT i,
         sum(e * CASE vec_id WHEN {DISCOVER_CONTEXT[0][0]} THEN {DISCOVER_CONTEXT[0][1]}
                             WHEN {DISCOVER_CONTEXT[1][0]} THEN {DISCOVER_CONTEXT[1][1]} END) AS c
  FROM ctx_raw GROUP BY i
),
comp AS (
  SELECT list(t[i] + coalesce(c, 0) ORDER BY i) AS cv
  FROM (SELECT generate_subscripts(t, 1) AS i, t[generate_subscripts(t, 1)] AS ti, t FROM tgt) idx
  LEFT JOIN ctx USING (i)
)
SELECT vec_id AS id,
       round(list_dot_product(embedding::DOUBLE[], cv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(cv, cv))), 6) AS score
FROM embeddings, comp
WHERE vec_id NOT IN ({DISCOVER_CONTEXT[0][0]}, {DISCOVER_CONTEXT[1][0]})
ORDER BY score DESC, id ASC
LIMIT 10
"""


def v_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY V_RANDOM() LIMIT n`` random sampling
    (tests/bin/tests.sql:310-320), graded property-form: the sampled *ids*
    are engine-specific RNG, but three properties of the sample are
    deterministic and oracle-checkable — ``n_rows`` (= min(25, |T|)),
    ``n_valid_ids`` (every sampled id exists in the source, proven by a
    semi-join back), and ``n_distinct`` (ORDER BY + LIMIT samples without
    replacement over a unique key).  The V_RANDOM sampling path genuinely
    executes on the Spark side; the semi-join probes its output."""
    from qdrant_datafusion_spark.functions.distance import v_random

    emb = _t(spark, sf_dir, "embeddings")
    sample = (
        emb.select("vec_id")
        .orderBy(v_random(42), F.asc("vec_id"))
        .limit(25)
        # consumed twice (agg + semi-join probe) — pin the sample so both
        # consumers see the SAME draw rather than re-executing the RNG
        .localCheckpoint(eager=False)
    )
    valid = sample.join(
        F.broadcast(emb.select("vec_id")), on="vec_id", how="left_semi"
    )
    return sample.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("vec_id").alias("n_distinct"),
    ).crossJoin(valid.agg(F.count("*").alias("n_valid_ids"))).select(
        "n_rows", "n_valid_ids", "n_distinct"
    )


V_RANDOM_SAMPLE_SQL = """
SELECT least(25, count(*))::BIGINT AS n_rows,
       least(25, count(*))::BIGINT AS n_valid_ids,
       least(25, count(*))::BIGINT AS n_distinct
FROM embeddings
"""


QUERIES["v_discover_topk"] = v_discover_topk
QUERIES["v_random_sample"] = v_random_sample
ORACLES["v_discover_topk"] = V_DISCOVER_SQL
ORACLES["v_random_sample"] = V_RANDOM_SAMPLE_SQL


# ===========================================================================
# round-2 gate additions: JSON array containment (@>) + LSH-bucket ANN
# ===========================================================================

#: literal hyperplanes (seed-derived, shared with the oracle) — signs of
#: dot products against these are the LSH bucket key
LSH_PLANES = [_seeded_vec(64, 80 + i) for i in range(4)]


def payload_contains_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON array containment — the ``payload->'tags' @> '["..."]'`` shape
    (reference tests/bin/tests.sql:224).  The payload JSON is constructed
    from document metadata inside the query (the test tables carry no raw
    JSON tags column), then *parsed back* through the containment kernel,
    so the gate exercises the real get_json_object → from_json →
    array_contains path end to end."""
    from qdrant_datafusion_spark.functions.json_fns import payload_contains

    docs = _t(spark, sf_dir, "documents")
    payload = F.to_json(F.struct(F.array("lang", "source").alias("tags")))
    return (
        docs.select("doc_id", "lang", payload.alias("payload"))
        .filter(payload_contains(F.col("payload"), "tags", "src3"))
        .select("doc_id", "lang")
    )


PAYLOAD_CONTAINS_SQL = """
SELECT doc_id, lang FROM documents WHERE list_contains([lang, source], 'src3')
"""


def lsh_bucket_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k probing the query's random-hyperplane LSH bucket
    plus all Hamming-1 neighbors (multiprobe).  Literal planes make the
    bucket assignment deterministic, so the oracle reproduces the exact
    probe set and scores — a full value oracle for the approximate path."""
    from qdrant_datafusion_spark.operators.ann import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb.select(F.col("vec_id").alias("id"), "embedding"),
        "embedding",
        QUERY_VEC,
        LSH_PLANES,
        k=10,
    )
    return out.select("id", F.round("score", 6).alias("score"))


def _lsh_oracle_sql() -> str:
    """Mirror lsh_bucket_topk: the probe-bucket set is precomputed from the
    same literal planes; bucket strings are sign-bit concatenations."""
    q = [float(x) for x in QUERY_VEC]
    qbits = [
        1 if sum(a * b for a, b in zip(q, p)) > 0 else 0 for p in LSH_PLANES
    ]
    buckets = {"".join(map(str, qbits))}
    for i in range(len(qbits)):
        flipped = qbits.copy()
        flipped[i] ^= 1
        buckets.add("".join(map(str, flipped)))
    bits = " || ".join(
        f"((list_dot_product(embedding::DOUBLE[], {_sql_array(p)}::DOUBLE[]) > 0)"
        "::INT)::VARCHAR"
        for p in LSH_PLANES
    )
    qarr = f"{_sql_array(q)}::DOUBLE[]"
    in_list = ", ".join(f"'{b}'" for b in sorted(buckets))
    return f"""
WITH b AS (
  SELECT vec_id AS id, embedding, ({bits}) AS bucket
  FROM embeddings
  WHERE embedding IS NOT NULL
)
SELECT id,
       round(list_dot_product(embedding::DOUBLE[], {qarr})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({qarr}, {qarr}))), 6) AS score
FROM b
WHERE bucket IN ({in_list})
ORDER BY score DESC, id ASC
LIMIT 10
"""


QUERIES["payload_contains"] = payload_contains_tags
QUERIES["lsh_bucket_topk"] = lsh_bucket_search
ORACLES["payload_contains"] = PAYLOAD_CONTAINS_SQL
ORACLES["lsh_bucket_topk"] = _lsh_oracle_sql()


# ===========================================================================
# scale-default similarity paths: multi-table LSH for embedding dedup and
# the kNN graph (the exact block-GEMM grid is the verify/oracle tier; these
# bucketed forms are what survives 100×)
# ===========================================================================

#: 16 tables × 4 hyperplanes (seeds 200..263) — measured 0.96 pair recall
#: at threshold 0.35 on the test corpus.  Kept as the reference constant
#: for auto_bucket_planes' determinism test; the gates below use the
#: corpus-scaled POOL instead (round-9 verdict #4).
EMB_LSH_TABLES = 16
EMB_LSH_P = 4
EMB_LSH_PLANES = [_seeded_vec(64, 200 + i) for i in range(EMB_LSH_TABLES * EMB_LSH_P)]

#: Corpus-scaled LSH pool: every table pre-seeds PMAX planes
#: (pool[t*PMAX + j] = seeded_vec(200 + t*PMAX + j)) and both engines
#: slice the first p = auto_plane_count(n) per table at runtime — Spark
#: from a one-row corpus count, DuckDB by substr-truncating the full
#: PMAX-bit bucket string.  Fixed p is the knob that silently degrades
#: at scale (pair mass grows ~x² at constant p — measured in
#: BENCH_DETAIL.json's lsh_occupancy probe); scaling p with
#: log2(n/target_bucket) holds expected bucket occupancy (and per-task
#: GEMM cost) flat.  PMAX=8 covers corpora up to 512·2^8 ≈ 131k vectors;
#: at the graded SFs (500/2000 vectors) p resolves to the floor of 4.
EMB_LSH_PMAX = 8
EMB_LSH_POOL = [
    _seeded_vec(64, 200 + i) for i in range(EMB_LSH_TABLES * EMB_LSH_PMAX)
]


def _emb_lsh_planes_for(emb) -> list[list[float]]:
    """Slice the pool to p = auto_plane_count(n) planes per table, n from
    a one-row count of non-null embeddings (bounded driver state)."""
    from qdrant_datafusion_spark.operators.dedup import auto_plane_count

    n = emb.where(F.col("embedding").isNotNull()).count()
    p = min(EMB_LSH_PMAX, auto_plane_count(n))
    return [
        EMB_LSH_POOL[t * EMB_LSH_PMAX + j]
        for t in range(EMB_LSH_TABLES)
        for j in range(p)
    ]


def _emb_lsh_bits_sql() -> str:
    """Per-table DuckDB FULL-width (PMAX-bit) bucket strings f0..f{L-1}
    over `embedding`; the pc CTE's substr(f{t}, 1, p) truncates to the
    corpus-scaled plane count — same buckets as the Spark pool slice."""
    cols = []
    for t in range(EMB_LSH_TABLES):
        bits = " || ".join(
            "((list_dot_product(embedding::DOUBLE[], "
            f"{_sql_array(EMB_LSH_POOL[t * EMB_LSH_PMAX + j])}::DOUBLE[]) > 0)::INT)::VARCHAR"
            for j in range(EMB_LSH_PMAX)
        )
        cols.append(f"({bits}) AS f{t}")
    return ",\n         ".join(cols)


#: mirrors dedup.auto_plane_count(n, target_bucket=512, min_planes=4),
#: capped at the pool width
_EMB_LSH_P_SQL = (
    "SELECT least({pmax}, greatest(4, CAST(ceil(log2(greatest(2.0, "
    "count(*) / 512.0))) AS INT))) AS p FROM embeddings "
    "WHERE embedding IS NOT NULL"
).format(pmax=EMB_LSH_PMAX)

_EMB_LSH_TRUNC = ", ".join(
    f"substr(f{t}, 1, p) AS b{t}" for t in range(EMB_LSH_TABLES)
)

_EMB_LSH_MATCH = " OR ".join(f"a.b{t} = b.b{t}" for t in range(EMB_LSH_TABLES))
_EMB_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups via multi-table hyperplane LSH — the gated
    scale default (dedup_embedding keeps the exact grid as the oracle
    tier).  Corpus-scaled plane count (p = auto_plane_count(n), floor 4)
    sliced from the literal pool ⇒ deterministic buckets at every SF ⇒
    full value oracle, and pair mass stays ~linear at 100×."""
    from qdrant_datafusion_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(
        emb,
        "embedding",
        "vec_id",
        threshold=0.35,
        bucket_planes=_emb_lsh_planes_for(emb),
        tables=EMB_LSH_TABLES,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


DEDUP_EMBEDDING_LSH_SQL = f"""
WITH pc AS ({_EMB_LSH_P_SQL}),
raw AS (
  SELECT vec_id, embedding,
         {_emb_lsh_bits_sql()}
  FROM embeddings
  WHERE embedding IS NOT NULL
),
b AS (
  SELECT vec_id, embedding, {_EMB_LSH_TRUNC}
  FROM raw, pc
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_EMB_COS}, 6) AS cosine
FROM b a JOIN b b ON a.vec_id < b.vec_id AND ({_EMB_LSH_MATCH})
WHERE {_EMB_COS} >= 0.35
"""


def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit as a gated value: |LSH pairs| / |exact pairs| in one
    row.  The LSH pair set is a subset of the exact set (same raw
    threshold, same exact re-scoring kernel), so the ratio IS edge recall.
    recall_ok pins the ≥0.9 contract the scale path claims."""
    from qdrant_datafusion_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    exact = _emb_exact_pairs(spark, sf_dir)
    lsh = embedding_near_dups(
        emb,
        "embedding",
        "vec_id",
        threshold=0.35,
        bucket_planes=_emb_lsh_planes_for(emb),
        tables=EMB_LSH_TABLES,
    )
    e = exact.agg(F.count("*").alias("n_exact"))
    l = lsh.agg(F.count("*").alias("n_lsh"))
    return e.crossJoin(l).select(
        "n_exact",
        "n_lsh",
        F.round(F.col("n_lsh") / F.col("n_exact"), 4).alias("recall"),
        (F.round(F.col("n_lsh") / F.col("n_exact"), 4) >= 0.9).alias("recall_ok"),
    )


DEDUP_EMBEDDING_RECALL_SQL = f"""
WITH pc AS ({_EMB_LSH_P_SQL}),
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
ex AS (
  SELECT count(*) AS n_exact
  FROM b a JOIN b b ON a.vec_id < b.vec_id
  WHERE {_EMB_COS} >= 0.35
),
ls AS (
  SELECT count(*) AS n_lsh
  FROM b a JOIN b b ON a.vec_id < b.vec_id AND ({_EMB_LSH_MATCH})
  WHERE {_EMB_COS} >= 0.35
)
SELECT n_exact, n_lsh,
       round(n_lsh / n_exact, 4) AS recall,
       round(n_lsh / n_exact, 4) >= 0.9 AS recall_ok
FROM ex, ls
"""


def ann_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph via LSH-blocked candidates — the gated scale default
    (ann_knn_graph keeps the exact block-GEMM grid as the oracle tier)."""
    from qdrant_datafusion_spark.operators.ann import self_knn_join_lsh

    emb = _t(spark, sf_dir, "embeddings")
    out = self_knn_join_lsh(
        emb,
        "embedding",
        "vec_id",
        planes=_emb_lsh_planes_for(emb),
        k=5,
        tables=EMB_LSH_TABLES,
    )
    return out.select(
        "id", "nbr_id", "score", F.col("rank").cast("long").alias("rank")
    )


ANN_KNN_GRAPH_BLOCKED_SQL = f"""
WITH pc AS ({_EMB_LSH_P_SQL}),
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
scored AS (
  SELECT a.vec_id AS id, b.vec_id AS nbr_id, round({_EMB_COS}, 6) AS score
  FROM b a JOIN b b ON a.vec_id <> b.vec_id AND ({_EMB_LSH_MATCH})
),
ranked AS (
  SELECT id, nbr_id, score,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT id, nbr_id, score, rank FROM ranked WHERE rank <= 5
"""


#: DuckDB mirror of ann.planted_cluster_embeddings (group_size=4,
#: noise_scale=0.01): per-dim centroid = md5-grid point in [-10, 10] keyed
#: by (vec_id // 4, dim), plus 0.01x the raw embedding — elementwise
#: arithmetic only, bit-identical to the Spark transform (verified 0
#: element mismatches at every SF).
_CLUSTERED_EMB_SQL = """
  SELECT vec_id,
         list_transform(range(1, 1 + len(embedding)),
           i -> ((('0x' || substr(md5((vec_id // 4)::VARCHAR || '_'
                                      || i::VARCHAR), 1, 8))::BIGINT
                  % 2001 - 1000) / 100.0)
                + 0.01 * embedding[i]::DOUBLE) AS cemb
  FROM embeddings WHERE embedding IS NOT NULL
"""


def dedup_embedding_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-MLlib euclidean similarity JOIN on the planted-cluster
    fixture: BucketedRandomProjectionLSH.approxSimilarityJoin generates
    candidates, the house sequential-fold euclid kernel verifies and
    scores (round-12 verdict task 1 — the join form the flat raw-fixture
    spectrum could not demonstrate; ``ann.planted_cluster_embeddings``
    plants wide inter/intra separation: intra ~0.01-0.017 vs inter ~46).
    Oracle = EXACT all-pairs euclid at radius 0.05, so the gate pins
    FULL recall of the seeded bucketed join (P(miss) ≲ 4e-8/pair at
    bucket length 0.1), while the probe (scale_probe.py brp_clustered)
    measures the candidate-mass pruning the buckets buy."""
    from qdrant_datafusion_spark.operators.ann import (
        planted_cluster_embeddings,
    )
    from qdrant_datafusion_spark.operators.dedup import (
        embedding_near_dups_brp,
    )

    emb = _t(spark, sf_dir, "embeddings")
    c = planted_cluster_embeddings(emb, "embedding", "vec_id")
    pairs = embedding_near_dups_brp(
        c, "cemb", "vec_id", radius=0.05,
        num_hash_tables=4, bucket_length=0.1, seed=7,
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("dist"), 6).alias("dist")
    )


DEDUP_EMBEDDING_BRP_SQL = f"""
WITH c AS ({_CLUSTERED_EMB_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_distance(a.cemb, b.cemb), 6) AS dist
FROM c a JOIN c b ON a.vec_id < b.vec_id
WHERE list_distance(a.cemb, b.cemb) <= 0.05
"""


QUERIES["dedup_embedding_lsh"] = dedup_embedding_lsh
QUERIES["dedup_embedding_recall"] = dedup_embedding_recall
QUERIES["dedup_embedding_brp"] = dedup_embedding_brp
QUERIES["ann_knn_graph_blocked"] = ann_knn_graph_blocked
ORACLES["dedup_embedding_lsh"] = DEDUP_EMBEDDING_LSH_SQL
ORACLES["dedup_embedding_recall"] = DEDUP_EMBEDDING_RECALL_SQL
ORACLES["dedup_embedding_brp"] = DEDUP_EMBEDDING_BRP_SQL
ORACLES["ann_knn_graph_blocked"] = ANN_KNN_GRAPH_BLOCKED_SQL

# ===========================================================================
# quantization tier: scalar int8 + binary sign-bit compression with full
# value oracles (Qdrant's server-side quantization families re-expressed
# as columnar codes; the binary Hamming shortlist is the cheap stage-1
# scan for brute-force search at 100 TB — 8 bytes per 64 dims)
# ===========================================================================

#: DuckDB fragments shared by the scalar-quant oracles: per-vector
#: (lo, scale) and the float64 view of the embedding
_QUANT_BASE_SQL = """
WITH q AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS lo,
         (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0
           AS scale
  FROM embeddings
  WHERE embedding IS NOT NULL
)
"""


def quant_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization fidelity audit as a gated value: max |x - x̂|
    per vector, aggregated; bound_ok pins err ≤ scale/2."""
    from qdrant_datafusion_spark.operators.quantize import quantization_error_stats

    emb = _t(spark, sf_dir, "embeddings")
    return quantization_error_stats(emb, "embedding", "vec_id")


QUANT_ERROR_STATS_SQL = _QUANT_BASE_SQL + """
, e AS (
  SELECT vec_id, scale,
    CASE WHEN scale > 0 THEN
      list_max(list_transform(range(1, len(v) + 1),
        i -> abs(v[i] - (lo + floor((v[i] - lo) / scale + 0.5) * scale))))
    ELSE list_max(list_transform(v, x -> abs(x - lo))) END AS max_err
  FROM q
)
SELECT count(*) AS n,
       round(sum(max_err::DECIMAL(18,12))::DOUBLE / count(*), 6) AS avg_max_err,
       round(max(max_err), 6) AS worst_err,
       bool_and(max_err <= scale * 0.5 + 1e-9) AS bound_ok
FROM e
"""


def v_search_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over RECONSTRUCTED int8-quantized vectors — what a
    search against scalar-compressed storage returns.  Deterministic
    floor(x+0.5) code assignment ⇒ full value oracle."""
    from qdrant_datafusion_spark.operators.quantize import (
        scalar_dequantize,
        scalar_quantize,
    )
    from qdrant_datafusion_spark.functions.distance import cosine_similarity

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    q = scalar_quantize(emb, "embedding")
    recon = scalar_dequantize("codes", "q_lo", "q_scale")
    return (
        q.select(
            "vec_id",
            F.round(cosine_similarity(recon, QUERY_VEC), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


V_SEARCH_SCALAR_QUANT_SQL = _QUANT_BASE_SQL + f"""
, r AS (
  SELECT vec_id,
    CASE WHEN scale > 0 THEN
      list_transform(v, x -> lo + floor((x - lo) / scale + 0.5) * scale)
    ELSE list_transform(v, x -> lo) END AS rv
  FROM q
)
SELECT vec_id,
       round(list_dot_product(rv, {_sql_array(QUERY_VEC)})
             / (sqrt(list_dot_product(rv, rv))
                * sqrt(list_dot_product({_sql_array(QUERY_VEC)},
                                        {_sql_array(QUERY_VEC)}))), 6) AS score
FROM r
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def v_search_binary_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary-quantized search: Hamming shortlist over packed
    sign bits (8 B per 64 dims — the stage-1 scan at 100 TB) → exact
    cosine rerank.  Shortlist ties break on id ⇒ deterministic ⇒ full
    value oracle."""
    from qdrant_datafusion_spark.operators.quantize import binary_search_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return binary_search_topk(
        emb, "embedding", "vec_id", QUERY_VEC, k=10, shortlist=64
    )


def _binary_quant_oracle_sql() -> str:
    from qdrant_datafusion_spark.operators.quantize import binary_quantize_query

    qw = binary_quantize_query(QUERY_VEC)[0]
    qv = _sql_array(QUERY_VEC)
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(0, 64),
           d -> CASE WHEN embedding[d + 1] <= 0.0 THEN 0::BIGINT
                     -- DuckDB checks 1<<63 for overflow; Spark's
                     -- shiftleft wraps to the two's-complement min-long
                     WHEN d = 63 THEN (-9223372036854775807 - 1)::BIGINT
                     ELSE (1::BIGINT << d) END))::BIGINT AS w0
  FROM embeddings
  WHERE embedding IS NOT NULL
),
short AS (
  SELECT vec_id, embedding
  FROM b
  ORDER BY bit_count(xor(w0, ({qw})::BIGINT)) ASC, vec_id ASC
  LIMIT 64
)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {qv})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({qv}, {qv}))), 6) AS score
FROM short
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


#: seeded literal PQ codebooks (8 subspaces × 16 centroids × dim 8) — the
#: same literal-centroids trick as ann_ivf_topk: training is pytest-covered
#: (train_pq_codebooks is deterministic), the gate pins encode+ADC+rerank
EMB_PQ_BOOKS = [
    [_seeded_vec(8, 300 + s * 16 + j) for j in range(16)] for s in range(8)
]


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized search: per-subspace nearest-centroid codes, ADC
    shortlist (m table lookups per row), exact cosine rerank."""
    from qdrant_datafusion_spark.operators.quantize import pq_search_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return pq_search_topk(
        emb, "embedding", "vec_id", QUERY_VEC, EMB_PQ_BOOKS, k=10, rerank=64
    )


def _pq_oracle_sql() -> str:
    sub = len(EMB_PQ_BOOKS[0][0])

    def dist(s: int, cent: list[float]) -> str:
        cb = "[" + ", ".join(f"{x!r}" for x in cent) + "]"
        off = s * sub
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"i -> (v[{off} + i] - ({cb})[i]) * (v[{off} + i] - ({cb})[i])))"
        )

    code_exprs = []
    adc_terms = []
    for s, book in enumerate(EMB_PQ_BOOKS):
        dlist = "list_value(" + ", ".join(dist(s, c) for c in book) + ")"
        code_exprs.append(f"list_position({dlist}, list_min({dlist})) AS c{s}")
        qs = QUERY_VEC[s * sub : (s + 1) * sub]
        table = [
            float(sum((a - b) * (a - b) for a, b in zip(qs, c))) for c in book
        ]
        tlit = "[" + ", ".join(f"{x!r}" for x in table) + "]"
        adc_terms.append(f"({tlit})[c{s}]")
    qv = _sql_array(QUERY_VEC)
    return f"""
WITH base AS (
  SELECT vec_id, embedding, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
coded AS (
  SELECT vec_id, embedding, {", ".join(code_exprs)}
  FROM base
),
short AS (
  SELECT vec_id, embedding
  FROM coded
  ORDER BY ({" + ".join(adc_terms)}) ASC, vec_id ASC
  LIMIT 64
)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {qv})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({qv}, {qv}))), 6) AS score
FROM short
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition: coarse-cell probe (partition-prunable) → ADC
    shortlist over codes → exact cosine rerank.  Literal centroids AND
    codebooks ⇒ full value oracle for the whole two-level index."""
    from qdrant_datafusion_spark.operators.quantize import ivfpq_search_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return ivfpq_search_topk(
        emb.select(F.col("vec_id").alias("id"), "embedding"),
        "embedding",
        "id",
        QUERY_VEC,
        IVF_CENTROIDS,
        EMB_PQ_BOOKS,
        k=10,
        nprobe=3,
        rerank=64,
    )


def _ivfpq_oracle_sql() -> str:
    """Two-level oracle: the IVF assignment/probe CTEs (same literals as
    _ivf_oracle_sql) feed the PQ encode/ADC CTEs (same literals as
    _pq_oracle_sql), then exact-rerank."""
    q = [float(x) for x in QUERY_VEC]
    cscores = [
        (i, sum(a * b for a, b in zip(q, c))) for i, c in enumerate(IVF_CENTROIDS)
    ]
    probe = [i for i, _ in sorted(cscores, key=lambda t: -t[1])[:3]]
    cent_dots = ",\n    ".join(
        f"list_dot_product(embedding::DOUBLE[], {_sql_array(c)}::DOUBLE[])"
        for c in IVF_CENTROIDS
    )
    sub = len(EMB_PQ_BOOKS[0][0])

    def dist(s: int, cent: list[float]) -> str:
        cb = "[" + ", ".join(f"{x!r}" for x in cent) + "]"
        off = s * sub
        return (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"i -> (v[{off} + i] - ({cb})[i]) * (v[{off} + i] - ({cb})[i])))"
        )

    code_exprs = []
    adc_terms = []
    for s, book in enumerate(EMB_PQ_BOOKS):
        dlist = "list_value(" + ", ".join(dist(s, c) for c in book) + ")"
        code_exprs.append(f"list_position({dlist}, list_min({dlist})) AS c{s}")
        qs = q[s * sub : (s + 1) * sub]
        table = [
            float(sum((a - b) * (a - b) for a, b in zip(qs, c))) for c in book
        ]
        tlit = "[" + ", ".join(f"{x!r}" for x in table) + "]"
        adc_terms.append(f"({tlit})[c{s}]")
    qv = _sql_array(QUERY_VEC)
    return f"""
WITH assigned AS (
  SELECT vec_id AS id, embedding, embedding::DOUBLE[] AS v,
         [{cent_dots}] AS cscores
  FROM embeddings
  WHERE embedding IS NOT NULL
),
probed AS (
  SELECT id, embedding, v
  FROM assigned
  WHERE list_position(cscores, list_max(cscores)) - 1
          IN ({", ".join(str(p) for p in probe)})
),
coded AS (
  SELECT id, embedding, {", ".join(code_exprs)}
  FROM probed
),
short AS (
  SELECT id, embedding
  FROM coded
  ORDER BY ({" + ".join(adc_terms)}) ASC, id ASC
  LIMIT 64
)
SELECT id,
       round(list_dot_product(embedding::DOUBLE[], {qv})
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({qv}, {qv}))), 6) AS score
FROM short
ORDER BY score DESC, id ASC
LIMIT 10
"""


QUERIES["ann_pq_topk"] = ann_pq_topk
QUERIES["ann_ivfpq_topk"] = ann_ivfpq_topk
ORACLES["ann_pq_topk"] = _pq_oracle_sql()
ORACLES["ann_ivfpq_topk"] = _ivfpq_oracle_sql()

QUERIES["quant_error_stats"] = quant_error_stats
QUERIES["v_search_scalar_quant"] = v_search_scalar_quant
QUERIES["v_search_binary_quant"] = v_search_binary_quant
ORACLES["quant_error_stats"] = QUANT_ERROR_STATS_SQL
ORACLES["v_search_scalar_quant"] = V_SEARCH_SCALAR_QUANT_SQL
ORACLES["v_search_binary_quant"] = _binary_quant_oracle_sql()

def group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector — the distributed centroid computation
    behind clustering summaries and by-group V_RECOMMEND positives
    (groupwise sibling of SQL V_MEAN_VEC).  posexplode → (label, dim)
    decimal-sum aggregation (order-independent ⇒ oracle-exact).  Shuffles
    only (label, dim) partials, never whole vectors — the same shape
    train_ivf_centroids uses, here as a gated query.

    Output is LONG-FORM ``(label, pos, m, n)`` — one row per centroid
    dimension, scalar columns only.  (The r4 wide form carried the
    centroid as ``array<double>``, which the driver's pandas sort
    canonicalization cannot order — "unhashable type: 'list'" — so the
    only value-correct red row in CORRECTNESS_r04 was a shape artifact.
    Reassemble with ``array_sort(collect_list(struct(pos, m)))`` when a
    vector is needed downstream.)"""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    return (
        e.groupBy("label", "pos")
        .agg(
            _avg_round6(
                (F.col("x").cast("decimal(20,12)") * F.lit(10**12)).cast("long"),
                12,
            ).alias("m"),
            F.count("*").cast("long").alias("n"),
        )
        .select("label", F.col("pos").cast("int").alias("pos"), "m", "n")
    )


GROUP_CENTROIDS_SQL = f"""
WITH e AS (
  SELECT label, t.pos, embedding[t.pos + 1]::DOUBLE AS x
  FROM embeddings
  CROSS JOIN (SELECT unnest(range(0, 64)) AS pos) t
  WHERE embedding IS NOT NULL
)
SELECT label,
       pos::INT AS pos,
       {_avg6_sql("(x::DECIMAL(20,12) * 1000000000000)::BIGINT", 12)} AS m,
       count(*)::BIGINT AS n
FROM e
GROUP BY label, pos
"""


QUERIES["group_centroids"] = group_centroids
ORACLES["group_centroids"] = GROUP_CENTROIDS_SQL


def v_centroid_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-label centroid as group_centroids, but through the
    Spark-4 grouped-aggregate pandas UDF surface (SURVEY §2.10):
    ``GROUP BY label`` with V_CENTROID(embedding), then posexplode to
    the gate's long form.  The UDAF replicates the exact fixed-point
    average (functions/agg_fns.py), so the oracle is group_centroids'
    verbatim — the two paths must agree bit-for-bit.  Production path
    at 100 TB stays the native partial aggregation (a grouped-agg UDF
    ships whole groups); this gate proves the registration hook."""
    from qdrant_datafusion_spark.functions.agg_fns import v_centroid

    emb = _t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    # Spark disallows mixing a grouped-agg pandas UDF with non-pandas
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the row
    # count rides a separate native groupBy joined back on label.
    # eqNullSafe: a NULL-label group is one grouping key to both
    # groupBys (and to the oracle's GROUP BY) — a plain equi-join would
    # silently drop it
    cent = emb.groupBy("label").agg(
        v_centroid(F.col("embedding").cast("array<double>")).alias("c")
    )
    counts = emb.groupBy(F.col("label").alias("_label")).agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        cent.join(counts, F.col("label").eqNullSafe(F.col("_label")))
        .drop("_label")
        .select("label", F.posexplode("c").alias("pos", "m"), "n")
        .select("label", F.col("pos").cast("int").alias("pos"), "m", "n")
    )


QUERIES["v_centroid_udaf"] = v_centroid_udaf
# the UDAF path must match the native-aggregation oracle verbatim
ORACLES["v_centroid_udaf"] = GROUP_CENTROIDS_SQL


# ---------------------------------------------------------------------------
# Training-data assembly pipeline (operators/pipeline.py): deterministic
# splits, benchmark decontamination, repetition quality, sequence packing
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SPLIT_SEED = "r2"


def pipeline_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed train/val/test assignment, summarized per
    split (count + id range + id checksum — enough for the hash gate to
    prove every row landed in the same split as the oracle)."""
    from qdrant_datafusion_spark.operators.pipeline import hash_split

    docs = _t(spark, sf_dir, "documents")
    assigned = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED)
    return assigned.groupBy("split").agg(
        F.count("*").cast("long").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
    )


def _split_case_sql(key_sql: str) -> str:
    """DuckDB CASE mirroring :func:`pipeline.hash_split`'s assignment for
    an arbitrary integer key expression (``_SPLIT_WEIGHTS`` /
    ``_SPLIT_SEED``) — shared by the plain and group-keyed split oracles
    so both gates prove the same bucket-boundary table."""
    from qdrant_datafusion_spark.operators.pipeline import split_thresholds

    bounds = split_thresholds(_SPLIT_WEIGHTS)
    whens = " ".join(
        f"WHEN substr(md5(({key_sql})::VARCHAR || ':' || '{_SPLIT_SEED}'), 1, 8)"
        f" < '{hi}' THEN '{name}'"
        for name, hi in bounds[:-1]
    )
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


def _hash_split_oracle_sql() -> str:
    return f"""
SELECT {_split_case_sql("doc_id")} AS split,
       count(*)::BIGINT AS n,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       sum(doc_id)::BIGINT AS sum_id
FROM documents
GROUP BY 1
"""


#: distinct 5-word shingles (decontamination unit), mirroring
#: functions.text.word_shingles(k=5)
_SHINGLES5_SQL = f"""
WITH t AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 4),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  || ' ' || toks[i+3] || ' ' || toks[i+4]))
         ELSE [] END AS shingles
  FROM t
)
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 5-gram decontamination: docs with ``doc_id % 17 == 0``
    stand in for the eval set; every other doc is scored by how many of
    its distinct 5-word shingles appear anywhere in that set."""
    from qdrant_datafusion_spark.operators.pipeline import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, bench, "text", "doc_id", k=5, min_hits=1)


TEXT_DECONTAMINATE_SQL = _SHINGLES5_SQL + """
, bench AS (
  SELECT DISTINCT s
  FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 17 = 0)
),
corpus AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 17 <> 0),
hits AS (
  SELECT e.doc_id, count(*)::BIGINT AS hits
  FROM (SELECT doc_id, unnest(shingles) AS s FROM corpus) e
  JOIN bench b USING (s)
  GROUP BY e.doc_id
)
SELECT c.doc_id,
       len(c.shingles)::BIGINT AS n_shingles,
       coalesce(h.hits, 0)::BIGINT AS hits,
       coalesce(h.hits, 0) >= 1 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


def text_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-based decontamination — the paraphrase-robust sibling of
    :func:`text_decontaminate` (n-gram overlap misses reworded eval
    leakage).  label-0 embeddings stand in for the eval set; every other
    vector is flagged by its max cosine against ANY of them.  Zero-shuffle
    plan: the eval matrix broadcasts, each partition scores with one GEMM,
    and the two-tier exact re-score makes the emitted max oracle-exact."""
    from qdrant_datafusion_spark.operators.pipeline import decontaminate_embedding

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("label") == 0)
    corpus = emb.filter(F.col("label") != 0)
    out = decontaminate_embedding(
        corpus, bench, "embedding", "vec_id", threshold=0.4
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("max_cosine", 6).alias("max_cosine"),
        "contaminated",
    )


# NULLIF guards the zero-norm edge so the oracle models the operator's
# NULL-never-NaN contract: 0/0 in DuckDB is NaN, and NaN sorts ABOVE every
# double, so an unguarded max() would flip `contaminated` to true for rows
# the operator deliberately emits as NULL (and one zero-norm benchmark
# vector would poison the max for the whole corpus); with NULLIF the pair
# cosine is NULL, max() ignores it, matching the Spark side exactly
_SEM_COS = (
    "list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / nullif(sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0)"
)
TEXT_DECONTAMINATE_SEMANTIC_SQL = f"""
WITH b AS (
  SELECT embedding FROM embeddings WHERE label = 0 AND embedding IS NOT NULL
),
s AS (
  SELECT c.vec_id, max({_SEM_COS}) AS mc
  FROM embeddings c, b
  WHERE c.label != 0 AND c.embedding IS NOT NULL
  GROUP BY c.vec_id
)
SELECT vec_id::BIGINT AS vec_id,
       round(mc, 6) AS max_cosine,
       mc >= 0.4 AS contaminated
FROM s
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (dup-token /
    dup-line fractions, top bigram/trigram share) — one narrow projection,
    max-multiplicity via an in-row sort + run-length fold."""
    from qdrant_datafusion_spark.operators.pipeline import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs, "text", "doc_id")
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


TEXT_REPETITION_SQL = f"""
WITH t AS ({_TOKS_SQL}),
ln AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END) AS g
  FROM t
),
bgf AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS f
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
  GROUP BY doc_id
),
tg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [] END) AS g
  FROM t
),
tgf AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS f
  FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks)::BIGINT AS n_tokens,
       round(CASE WHEN len(t.toks) > 0 THEN
         (len(t.toks) - len(list_distinct(t.toks)))::DOUBLE / len(t.toks)
         ELSE 0 END, 6) AS dup_token_frac,
       round(coalesce(b.f, 0), 6) AS top_bigram_frac,
       round(coalesce(g.f, 0), 6) AS top_trigram_frac,
       round(CASE WHEN len(l.lines) > 0 THEN
         (len(l.lines) - len(list_distinct(l.lines)))::DOUBLE / len(l.lines)
         ELSE 0 END, 6) AS dup_line_frac
FROM t
JOIN ln l USING (doc_id)
LEFT JOIN bgf b USING (doc_id)
LEFT JOIN tgf g USING (doc_id)
"""


def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: greedy first-fit in id order within
    ``doc_id % 4`` buckets at a 256-token budget."""
    from qdrant_datafusion_spark.operators.pipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=256, num_buckets=4)


PIPELINE_PACK_SQL = f"""
WITH RECURSIVE t AS ({_TOKS_SQL}),
sz AS (
  SELECT doc_id, (doc_id % 4)::INTEGER AS bucket, len(toks)::BIGINT AS n_tokens
  FROM t
),
ord AS (
  SELECT doc_id, bucket, n_tokens,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM sz
),
packed AS (
  SELECT doc_id, bucket, n_tokens, rn, 0 AS pack_id, n_tokens AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens > 256 THEN p.pack_id + 1
              ELSE p.pack_id END,
         CASE WHEN p.fill + o.n_tokens > 256 THEN o.n_tokens
              ELSE p.fill + o.n_tokens END
  FROM ord o JOIN packed p ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, bucket, pack_id::INTEGER AS pack_id, n_tokens FROM packed
"""


def pipeline_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup clusters (the
    dedup_clusters component set, exact 3-shingle Jaccard ≥ 0.2) are
    assigned WHOLE — the md5 split key is the component representative
    (min member id), so a test document can never have a near-duplicate
    in train.  Singleton docs keep hash_split's exact assignment (same
    weights + seed), making the two gates directly diffable: rows that
    changed split are exactly the non-representative cluster members."""
    from qdrant_datafusion_spark.operators.pipeline import group_split

    docs = _t(spark, sf_dir, "documents")
    pairs = _doc_jaccard_pairs(spark, sf_dir)
    out = group_split(docs, pairs, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").alias("group_id"),
        "split",
    )


def _group_split_oracle_sql() -> str:
    # the dedup_clusters component CTEs verbatim, then: every doc joins
    # its component (LEFT — singletons keep their own id) and the split
    # CASE keys on that representative instead of doc_id
    return _CLUSTERS_CTE_SQL + f"""
, cl AS (
  SELECT id, min(label) AS cluster_id FROM walk GROUP BY id
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(cl.cluster_id, d.doc_id)::BIGINT AS group_id,
       {_split_case_sql("coalesce(cl.cluster_id, d.doc_id)")} AS split
FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
"""


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional source-pair near-dup overlap matrix (the 100 TB
    source-selection report): for each (source_a, source_b) cell with ≥1
    near-dup pair crossing them, the pair-incidence count, the distinct
    docs of A covered by B, A's total doc count, and the covered
    fraction.  Same exact-Jaccard pair set as dedup_ngram_jaccard."""
    from qdrant_datafusion_spark.operators.dedup import source_overlap

    docs = _t(spark, sf_dir, "documents")
    cells = source_overlap(
        docs, "text", "doc_id", "source", k=3, threshold=0.2,
        pairs=_doc_jaccard_pairs(spark, sf_dir),
    )
    return cells.select(
        "source_a",
        "source_b",
        "n_links",
        "n_docs",
        "n_src_docs",
        _ratio_round6(F.col("n_docs"), F.col("n_src_docs")).alias(
            "covered_frac"
        ),
    )


DEDUP_SOURCE_OVERLAP_SQL = _SHINGLES_SQL + f"""
, pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_J_INTER} > 0
    AND {_J_INTER}::DOUBLE / {_J_UNION} >= 0.2
),
tagged AS (
  SELECT p.id_a, p.id_b, da.source AS src_a, db.source AS src_b
  FROM pr p
  JOIN documents da ON p.id_a = da.doc_id
  JOIN documents db ON p.id_b = db.doc_id
),
directed AS (
  SELECT src_a AS source_a, src_b AS source_b, id_a AS doc FROM tagged
  UNION ALL
  SELECT src_b AS source_a, src_a AS source_b, id_b AS doc FROM tagged
),
cells AS (
  SELECT source_a, source_b,
         count(*)::BIGINT AS n_links,
         count(DISTINCT doc)::BIGINT AS n_docs
  FROM directed GROUP BY source_a, source_b
),
totals AS (
  SELECT source AS source_a, count(*)::BIGINT AS n_src_docs
  FROM documents GROUP BY source
)
SELECT c.source_a, c.source_b, c.n_links, c.n_docs, t.n_src_docs,
       {_ratio6_sql("c.n_docs", "t.n_src_docs")} AS covered_frac
FROM cells c JOIN totals t ON c.source_a = t.source_a
"""


QUERIES["pipeline_hash_split"] = pipeline_hash_split
QUERIES["pipeline_group_split"] = pipeline_group_split
ORACLES["pipeline_group_split"] = _group_split_oracle_sql()
QUERIES["dedup_source_overlap"] = dedup_source_overlap
ORACLES["dedup_source_overlap"] = DEDUP_SOURCE_OVERLAP_SQL
QUERIES["text_decontaminate"] = text_decontaminate
QUERIES["text_decontaminate_semantic"] = text_decontaminate_semantic
ORACLES["text_decontaminate_semantic"] = TEXT_DECONTAMINATE_SEMANTIC_SQL
QUERIES["text_repetition"] = text_repetition
QUERIES["pipeline_pack_sequences"] = pipeline_pack_sequences
ORACLES["pipeline_hash_split"] = _hash_split_oracle_sql()
ORACLES["text_decontaminate"] = TEXT_DECONTAMINATE_SQL
ORACLES["text_repetition"] = TEXT_REPETITION_SQL
ORACLES["pipeline_pack_sequences"] = PIPELINE_PACK_SQL


_MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.5, "src3": 0.25, "src4": 3.0}


def pipeline_mix_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture resampling over five sources (upsampled ×3 down to
    ×0.25; unlisted sources dropped) — deterministic md5-coin copies."""
    from qdrant_datafusion_spark.operators.pipeline import mix_datasets

    docs = _t(spark, sf_dir, "documents")
    return mix_datasets(docs, _MIX_WEIGHTS, seed="mix-r2").select(
        "doc_id", "source", "copy_idx"
    )


def _mix_oracle() -> str:
    from qdrant_datafusion_spark.operators.pipeline import mix_oracle_sql

    return mix_oracle_sql(_MIX_WEIGHTS, seed="mix-r2")


QUERIES["pipeline_mix_datasets"] = pipeline_mix_datasets
ORACLES["pipeline_mix_datasets"] = _mix_oracle()


def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-per-source sample via md5-rank (the reproducible
    stand-in for ORDER BY random() LIMIT n within each stratum)."""
    from qdrant_datafusion_spark.operators.pipeline import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", 10, seed="strat-r2").select(
        "doc_id", "source"
    )


PIPELINE_STRATIFIED_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR || ':' || 'strat-r2'), doc_id) AS rn
  FROM documents
) WHERE rn <= 10
"""


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each source's top half by quality score — the relative
    per-source curation cut.  Scores are rounded to 6 places BEFORE
    ranking so the cut boundary is engine-stable."""
    from qdrant_datafusion_spark.operators.pipeline import (
        quality_percentile_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    q = F.round(quality_score("text", stopwords=("the", "a")), 6)
    scored = docs.select("doc_id", "source", q.alias("quality"))
    return quality_percentile_filter(scored, "quality", by="source", keep_frac=0.5)


TEXT_QUALITY_FILTER_SQL = """
WITH q AS (
  SELECT doc_id, source,
         round(0.4 * least(length(text)::DOUBLE / 1000.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                            / length(text)
                       ELSE 0 END)
         + 0.3 * ((list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                             x -> x <> ''), 'the')::INT
                   + list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                               x -> x <> ''), 'a')::INT)::DOUBLE / 2), 6)
         AS quality
  FROM documents
),
r AS (
  SELECT doc_id, source, quality,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY quality DESC, doc_id) AS pr
  FROM q
)
SELECT doc_id, source, quality FROM r WHERE pr <= 0.5
"""


QUERIES["pipeline_stratified_sample"] = pipeline_stratified_sample
QUERIES["text_quality_filter"] = text_quality_filter
ORACLES["pipeline_stratified_sample"] = PIPELINE_STRATIFIED_SQL
ORACLES["text_quality_filter"] = TEXT_QUALITY_FILTER_SQL


#: fixed vocabulary for the inverted-index sparse gate: word → index
_SPARSE_VOCAB = ["spark", "join", "merge", "window", "data", "query"]
#: two weighted term queries over that vocabulary
_SPARSE_BATCH = [
    (1, {"spark": 2.0, "join": 1.5, "merge": 1.0, "window": 0.5}),
    (2, {"data": 1.0, "query": 2.0, "join": 0.25}),
]


def v_sparse_batch_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sparse retrieval on the SCALE path: documents become
    term-count sparse vectors over a fixed vocabulary, queries broadcast,
    and scoring runs as explode → broadcast join on the term index →
    partial-agg sum (`sparse_dot_join`) — the inverted-index shape whose
    only shuffle is the final (doc, query) groupBy.  Top-5 per query."""
    from pyspark.sql import Window

    from qdrant_datafusion_spark.functions.sparse import sparse_dot_join

    docs = _t(spark, sf_dir, "documents")
    # per-word term counts as flat codegen'd regexp_count columns (the
    # tfidf_rank shape) — a nested transform/filter lambda tree compiles
    # ~6x slower in Catalyst for identical results
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" "))
    counts = F.array(
        *[
            F.regexp_count(
                padded, F.lit(f"(?<=\\s){re.escape(w)}(?=\\s)")
            ).cast("double")
            for w in _SPARSE_VOCAB
        ]
    )
    sparse_docs = docs.select(
        "doc_id", counts.alias("cnts")
    ).select(
        "doc_id",
        F.filter(
            F.sequence(F.lit(0), F.lit(len(_SPARSE_VOCAB) - 1)),
            lambda i: F.element_at(F.col("cnts"), i + 1) > 0,
        ).alias("indices"),
        F.filter(F.col("cnts"), lambda c: c > 0).alias("values"),
    )
    queries = spark.createDataFrame(
        [
            (qid, [_SPARSE_VOCAB.index(w) for w in sorted(q)], [q[w] for w in sorted(q)])
            for qid, q in _SPARSE_BATCH
        ],
        "query_id int, indices array<int>, values array<double>",
    )
    scored = sparse_dot_join(sparse_docs, queries, id_col="doc_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "doc_id", F.round("score", 6).alias("score"))
    )


def _sparse_batch_oracle_sql() -> str:
    per_query = []
    for qid, q in _SPARSE_BATCH:
        terms = " + ".join(
            f"len(list_filter(toks, x -> x = '{w}'))::DOUBLE * {wt}"
            for w, wt in q.items()
        )
        per_query.append(
            f"SELECT {qid} AS query_id, doc_id, ({terms}) AS score FROM t"
        )
    union = " UNION ALL ".join(per_query)
    return f"""
WITH t AS ({_TOKS_SQL}),
scored AS ({union}),
ranked AS (
  SELECT query_id, doc_id, score AS raw_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored WHERE score > 0
)
SELECT query_id, doc_id, round(raw_score, 6) AS score
FROM ranked WHERE rn <= 5
"""


QUERIES["v_sparse_batch_inverted"] = v_sparse_batch_inverted
ORACLES["v_sparse_batch_inverted"] = _sparse_batch_oracle_sql()


def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrub stage: markup strip + PII redaction (emails, IPv4,
    phone runs) as one narrow chained-regexp projection, plus per-category
    raw-occurrence counts.  The synthetic corpus is PII-free, so the gate
    proves the no-op path char-exactly (md5 of cleaned text) and the
    planted-PII behavior is pinned in test_functions.py."""
    from qdrant_datafusion_spark.functions.text import clean_text, pii_counts

    docs = _t(spark, sf_dir, "documents")
    c = pii_counts("text")
    return docs.select(
        "doc_id",
        F.md5(clean_text("text")).alias("clean_hash"),
        c["n_email"].alias("n_email"),
        c["n_ip"].alias("n_ip"),
        c["n_phone"].alias("n_phone"),
    )


def _text_clean_oracle_sql() -> str:
    from qdrant_datafusion_spark.functions.text import (
        ENTITY_PATTERN,
        MARKUP_PATTERN,
        PII_PATTERNS,
    )

    pats = dict(PII_PATTERNS)
    cleaned = (
        f"trim(regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{MARKUP_PATTERN}', ' ', 'g'), '{ENTITY_PATTERN}', ' ', 'g'), "
        f"'\\s+', ' ', 'g'))"
    )
    for _, pat in PII_PATTERNS:
        cleaned = f"regexp_replace({cleaned}, '{pat}', '[PII]', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pats[n]}'))::INT AS n_{n}"
        for n in ("email", "ip", "phone")
    )
    return f"""
SELECT doc_id, md5({cleaned}) AS clean_hash, {counts}
FROM documents
"""


QUERIES["text_clean"] = text_clean
ORACLES["text_clean"] = _text_clean_oracle_sql()


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of enrichment, interval join
# ---------------------------------------------------------------------------

def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase enriched with the user's latest preceding click
    (inclusive), ties at one timestamp resolved to the largest click
    event id — the classic event-attribution as-of join, executed as
    union + single keyed shuffle + in-partition carry (no pair join)."""
    from qdrant_datafusion_spark.operators.temporal import as_of_join

    # DuckDB reads TIMESTAMP(NANOS) at µs precision, so the cross-engine
    # comparison runs in the µs domain end-to-end (truncating BEFORE the
    # join keeps both engines matching on the identical timeline)
    ev = _events(spark, sf_dir).withColumn("ts", F.expr("ts div 1000"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = as_of_join(
        purchases, clicks, on="ts", by="user_id",
        value_cols=["value"], seq_col="event_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("ts_right").alias("click_ts"),
        F.round("value_right", 6).alias("click_value"),
    )


Q_ASOF_SQL = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts, round(value, 6) AS value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS ts, arg_max(value, event_id) AS cvalue
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_us(ts)
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS click_ts, round(c.cvalue, 6) AS click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_interval_signup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases inside the half-open 30-minute window after any signup
    by the same user — point-in-interval join planned as a keyed hash
    join (containment filters inside the join, no pair blow-up)."""
    from qdrant_datafusion_spark.operators.temporal import interval_join

    ev = _events(spark, sf_dir).withColumn("ts", F.expr("ts div 1000"))  # µs domain
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    windows = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.lit(1800000000)).alias("end_ts"),
        F.col("event_id").alias("signup_id"),
    )
    return interval_join(
        purchases, windows, on="ts", by="user_id",
        start_col="start_ts", end_col="end_ts",
    )


Q_INTERVAL_SQL = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts, round(value, 6) AS value
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, epoch_us(ts) AS start_ts,
         epoch_us(ts) + 1800000000 AS end_ts, event_id AS signup_id
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, p.ts, p.value, s.start_ts, s.end_ts, s.signup_id
FROM p JOIN s ON p.user_id = s.user_id
             AND p.ts >= s.start_ts AND p.ts < s.end_ts
"""


QUERIES["q_asof_purchase_click"] = q_asof_purchase_click
QUERIES["q_interval_signup_window"] = q_interval_signup_window
ORACLES["q_asof_purchase_click"] = Q_ASOF_SQL
ORACLES["q_interval_signup_window"] = Q_INTERVAL_SQL

RESAMPLE_STEP_S = 86_400  # daily grid


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-filled daily time series: events.value resampled
    onto a midnight-aligned grid with linear interpolation between the
    nearest observations (operators/temporal.py:resample_interpolate —
    Pandas ``resample().interpolate()`` / TimescaleDB
    ``time_bucket_gapfill`` semantics, which Spark lacks natively).
    Values are fixed-point micros (HALF_UP), interpolation is one
    truncating BIGINT division, duplicate-second observations resolve
    latest-event-id-wins — every row bit-identical across engines.
    One key shuffle total: grid generation, both neighbor carries, and
    the dedup rank all share the user_id partitioning."""
    from qdrant_datafusion_spark.operators.temporal import (
        resample_interpolate,
    )

    ev = _events(spark, sf_dir)
    obs = ev.where(F.col("user_id").isNotNull()).select(
        "user_id",
        _floor_div("ts", 1_000_000_000).alias("ts_s"),
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias(
            "v_micro"
        ),
        "event_id",
    )
    return resample_interpolate(
        obs,
        ts_col="ts_s",
        by="user_id",
        value_col="v_micro",
        step=RESAMPLE_STEP_S,
        seq_col="event_id",
    ).orderBy("user_id", "ts_s")


Q_EVENTS_RESAMPLE_SQL = f"""
WITH obs0 AS (
  SELECT user_id, {_floor_div_sql("epoch_ns(ts)", 1_000_000_000)} AS ts_s,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
obs AS MATERIALIZED (
  SELECT user_id, ts_s, v_micro FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts_s
                                 ORDER BY event_id DESC) AS rn
    FROM obs0) WHERE rn = 1
),
bounds AS (
  SELECT user_id,
         {_floor_div_sql(f"min(ts_s) + {RESAMPLE_STEP_S - 1}", RESAMPLE_STEP_S)}
           * {RESAMPLE_STEP_S} AS lo,
         {_floor_div_sql("max(ts_s)", RESAMPLE_STEP_S)}
           * {RESAMPLE_STEP_S} AS hi
  FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, {RESAMPLE_STEP_S})) AS ts_s
  FROM bounds WHERE lo <= hi
),
u AS (
  SELECT user_id, ts_s, v_micro AS v, 0 AS tag FROM obs
  UNION ALL
  SELECT user_id, ts_s, NULL::BIGINT AS v, 1 AS tag FROM grid
),
c AS (
  SELECT user_id, ts_s, tag,
         last_value(v IGNORE NULLS) OVER w_p AS pv,
         last_value(CASE WHEN tag = 0 THEN ts_s END IGNORE NULLS)
           OVER w_p AS pt,
         first_value(v IGNORE NULLS) OVER w_f AS nv,
         first_value(CASE WHEN tag = 0 THEN ts_s END IGNORE NULLS)
           OVER w_f AS nt
  FROM u
  WINDOW w_p AS (PARTITION BY user_id ORDER BY ts_s, tag
                 ROWS UNBOUNDED PRECEDING),
         w_f AS (PARTITION BY user_id ORDER BY ts_s, tag
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, ts_s,
       (CASE WHEN nt > pt THEN pv + ((nv - pv) * (ts_s - pt)) // (nt - pt)
             ELSE pv END)::BIGINT AS v_micro
FROM c WHERE tag = 1 ORDER BY user_id, ts_s
"""

QUERIES["q_events_resample"] = q_events_resample
ORACLES["q_events_resample"] = Q_EVENTS_RESAMPLE_SQL

ROLLING_WINDOW_S = 7 * 86_400  # trailing 7 days


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling metrics per user at every purchase event —
    the RANGE-frame time window (``RANGE BETWEEN <interval> PRECEDING
    AND CURRENT ROW``) that powers rolling LTV / frequency features.
    A range frame is tie-safe by definition (all equal-instant rows are
    in the frame regardless of sort order), and the sums are fixed-point
    BIGINT micros, so every row is bit-identical cross-engine.  One key
    shuffle + one in-partition sort; the frame is evaluated by a sliding
    aggregate, never a per-row rescan."""
    ev = _events(spark, sf_dir).where(
        F.col("user_id").isNotNull() & (F.col("event_type") == "purchase")
    )
    base = ev.select(
        "user_id",
        "event_id",
        _floor_div("ts", 1_000_000_000).alias("ts_s"),
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias(
            "v_micro"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-ROLLING_WINDOW_S, 0)
    )
    return base.select(
        "user_id",
        "event_id",
        "ts_s",
        "v_micro",
        F.count("*").over(w).cast("bigint").alias("roll_cnt"),
        F.sum("v_micro").over(w).cast("bigint").alias("roll_sum"),
    ).orderBy("user_id", "ts_s", "event_id")


Q_EVENTS_ROLLING_SQL = f"""
WITH p AS (
  SELECT user_id, event_id,
         {_floor_div_sql("epoch_ns(ts)", 1_000_000_000)} AS ts_s,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro
  FROM events
  WHERE user_id IS NOT NULL AND event_type = 'purchase'
)
SELECT user_id, event_id, ts_s, v_micro,
       count(*) OVER w::BIGINT AS roll_cnt,
       sum(v_micro) OVER w::BIGINT AS roll_sum
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN {ROLLING_WINDOW_S} PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts_s, event_id
"""

QUERIES["q_events_rolling"] = q_events_rolling
ORACLES["q_events_rolling"] = Q_EVENTS_ROLLING_SQL



# ===========================================================================
# round 3: chunking, distributed token budget, BM25
# ===========================================================================

_CHUNK_SIZE, _CHUNK_OVERLAP = 40, 10
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (40-token windows, 10-token overlap)
    — narrow projection + one explode of start offsets, no shuffle; the
    md5 chunk hash stands in for the chunk text in the gate compare."""
    from qdrant_datafusion_spark.operators.pipeline import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


TEXT_CHUNKING_SQL = f"""
WITH t AS ({_TOKS_SQL}),
s AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
),
e AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
  FROM s
)
SELECT doc_id,
       (start // {_CHUNK_STEP})::INTEGER AS chunk_id,
       least({_CHUNK_SIZE}, n - start)::INTEGER AS n_tokens,
       md5(array_to_string(toks[start + 1:start + {_CHUNK_SIZE}], ' ')) AS chunk_hash
FROM e
WHERE start = 0 OR start - {_CHUNK_STEP} + {_CHUNK_SIZE} < n
"""


_TOKEN_BUDGET = 12_000


def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget prefix of the corpus in deterministic md5-shuffled
    order, via the two-phase distributed prefix sum (bucket totals →
    offsets → within-bucket window) — no global sort anywhere.  The
    budget is fixed in tokens, so the result stays bounded at ANY scale
    factor (a larger corpus just cuts earlier in hash order)."""
    from qdrant_datafusion_spark.operators.pipeline import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    return token_budget_select(
        docs, "text", "doc_id", budget=_TOKEN_BUDGET, seed=42
    ).select("doc_id", "n_tokens", "cum_tokens")


TOKEN_BUDGET_SQL = f"""
WITH t AS ({_TOKS_SQL}),
keyed AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         md5(doc_id::VARCHAR || ':' || '42') AS key
  FROM t
),
c AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING))::BIGINT
           AS cum_tokens
  FROM keyed
)
SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= {_TOKEN_BUDGET}
"""


_BM25_QUERY = "spark vector fast query"
_BM25_K1, _BM25_B = 1.2, 0.75


def match_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 (k1=1.2, b=0.75, Lucene idf) — per-term codegen
    tf + one broadcast stats row, same shape as match_text_tfidf."""
    from qdrant_datafusion_spark.functions.text import bm25_rank

    docs = _t(spark, sf_dir, "documents")
    return bm25_rank(
        docs, "text", "doc_id", _BM25_QUERY, k=10, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_sql() -> str:
    terms = list(dict.fromkeys(_BM25_QUERY.split()))
    k1, b = _BM25_K1, _BM25_B
    tf_exprs = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::INT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n       ".join(
        f"sum((tf{i} > 0)::INT)::BIGINT AS df{i}" for i in range(len(terms))
    )
    # mirror the Spark associativity exactly: idf * (tf*(k1+1)) / (tf + norm)
    score = " + ".join(
        f"(CASE WHEN df{i} > 0 THEN "
        f"ln((n::DOUBLE - df{i}::DOUBLE + 0.5) / (df{i}::DOUBLE + 0.5) + 1.0)"
        f" * (tf{i}::DOUBLE * {k1 + 1.0}) "
        f"/ (tf{i}::DOUBLE + {k1} * ({1.0 - b} + {b} * dl / avgdl)) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH t AS ({{_TOKS_SQL}}),
tf AS (
SELECT doc_id, len(toks)::DOUBLE AS dl,
       {tf_exprs}
FROM t
),
d AS (
SELECT count(*)::BIGINT AS n, sum(dl) / count(*)::DOUBLE AS avgdl,
       {df_exprs}
FROM tf
)
SELECT doc_id, round({score}, 6) AS score
FROM tf, d
ORDER BY score DESC, doc_id ASC
LIMIT 10
""".replace("{_TOKS_SQL}", _TOKS_SQL)


def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same decontamination contract as ``text_decontaminate`` but through
    the Bloom-prefilter + exact-verify path — the oracle is REUSED
    verbatim because a Bloom filter has no false negatives, so the
    verified output matches the exact operator bit-for-bit.  A tiny
    2^14-bit filter is deliberate: at sf0.01 it forces a real
    false-positive rate, proving the verify stage scrubs FPs."""
    from qdrant_datafusion_spark.operators.pipeline import decontaminate_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate_bloom(
        corpus, bench, "text", "doc_id", k=5, min_hits=1, m_bits=1 << 14
    )


_JL_IN, _JL_OUT, _JL_SEED = 64, 8, "jl-r3"


def embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64→8 dims over the embeddings table; the
    gate compares the first four projected coordinates rounded to 6dp.  The
    seed regenerates the same sign matrix in both engines, and the
    left-to-right fold order makes the double sums bit-identical."""
    from qdrant_datafusion_spark.operators.quantize import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    proj = jl_project("embedding", _JL_IN, _JL_OUT, seed=_JL_SEED)
    return emb.select(
        "vec_id",
        *[
            F.round(F.element_at(proj, i + 1), 6).alias(f"p{i}")
            for i in range(4)
        ],
    )


def _jl_oracle_sql() -> str:
    import math

    from qdrant_datafusion_spark.operators.quantize import jl_sign_matrix

    signs = jl_sign_matrix(_JL_IN, _JL_OUT, seed=_JL_SEED)
    scale = 1.0 / math.sqrt(_JL_OUT)
    cols = []
    for i in range(4):
        terms = " + ".join(
            f"embedding[{j + 1}]::DOUBLE * {signs[j][i]}" for j in range(_JL_IN)
        )
        cols.append(f"round(({terms}) * {scale!r}, 6) AS p{i}")
    exprs = ",\n       ".join(cols)
    return f"SELECT vec_id,\n       {exprs}\nFROM embeddings"


QUERIES["embed_jl_project"] = embed_jl_project
ORACLES["embed_jl_project"] = _jl_oracle_sql()


QUERIES["text_decontaminate_bloom"] = text_decontaminate_bloom
ORACLES["text_decontaminate_bloom"] = TEXT_DECONTAMINATE_SQL

QUERIES["text_chunking"] = text_chunking
QUERIES["pipeline_token_budget"] = pipeline_token_budget
QUERIES["match_text_bm25"] = match_text_bm25
ORACLES["text_chunking"] = TEXT_CHUNKING_SQL
ORACLES["pipeline_token_budget"] = TOKEN_BUDGET_SQL
ORACLES["match_text_bm25"] = _bm25_sql()


# ===========================================================================
# Capped (100 TB-default) dedup gates — skewed boilerplate fixture
# ===========================================================================
#
# The driver-gated dedup_minhash / dedup_simhash run UNCAPPED so the exact
# pair oracle can model the complete-recall contract.  These gates prove
# the production skew guard itself (``max_bucket_size`` — the default every
# 100 TB run keeps): a synthetic hot key — 2·n_docs identical copies of a
# boilerplate document over a vocabulary disjoint from the corpus's 31
# words — collapses into ONE bucket per band (MinHash) / block (SimHash),
# every one of them over the cap, and is dropped wholesale; every organic
# pair survives untouched.  The fixture is SCALE-RELATIVE: a SimHash block
# is only 12 bits (4096 values), so organic block buckets grow linearly
# with the corpus — measured max 57 members at sf0.01 and 549 at sf0.1
# (~11% of n_docs; a fixed cap of 500 dropped organic pairs at sf0.1).
# cap = n_docs therefore clears the organic maximum with ~9× headroom at
# every scale while the 2·n_docs boilerplate buckets always trip it.  The
# pair oracle is exactly the organic exact-pairs SQL, and the drop-audit
# oracle derives the bucket geometry from count(documents): 16 band
# buckets (5 block buckets) of 2·n_docs members.

_BOILER_TEXT = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed eiusmod "
    "tempor incididunt labore et dolore magna aliqua ut enim minim veniam"
)
_BOILER_BASE = 10_000_000


def _skew_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(documents ∪ boilerplate rows, the boilerplate rows alone, cap).

    cap = n_docs (≥ ~9× the largest organic block bucket at any scale);
    the boilerplate has boiler_n = 2·cap rows (> cap, so every
    boilerplate bucket is hot).  At sf0.01 this is the original literal
    geometry (cap 500, boiler 1000).  n_docs is counted once per
    (session, sf_dir) — four gate queries share the fixture and would
    otherwise each pay a count() scan of documents.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = shared_build(spark, ("n_docs", sf_dir), lambda pin: docs.count())
    boiler = spark.range(1, 2 * n_docs + 1).select(
        (F.lit(_BOILER_BASE) + F.col("id")).alias("doc_id"),
        F.lit(_BOILER_TEXT).alias("text"),
    )
    return docs.unionByName(boiler), boiler, n_docs


def _skew_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket table for the skewed fixture = the shared documents
    table ∪ a boilerplate-only build (per-doc independence makes the
    union exact) — the organic half is never re-shingled."""

    def build(pin):
        _, boiler, _ = _skew_fixture(spark, sf_dir)
        b = minhash_buckets(boiler, "text", "doc_id", k=3, num_hashes=32, bands=16)
        return pin(_doc_minhash_buckets(spark, sf_dir).unionByName(b), lineage=False)

    return shared_build(spark, ("minhash#skew", sf_dir), build)


def _skew_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucket table for the skewed fixture = the shared
    documents table ∪ a boilerplate-only build (signatures are per-doc
    independent, so the union is exact) — the _skew_minhash_buckets twin;
    shared by dedup_simhash_capped and dedup_simhash_hot."""
    from qdrant_datafusion_spark.operators.dedup import simhash_buckets

    def build(pin):
        _, boiler, _ = _skew_fixture(spark, sf_dir)
        b = simhash_buckets(boiler, "text", "doc_id", max_hamming=4, blocks=5)
        return pin(_doc_simhash_buckets(spark, sf_dir).unionByName(b), lineage=False)

    return shared_build(spark, ("simhash#skew", sf_dir), build)


def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs WITH the hot-bucket cap active on the
    skewed fixture: the 2·n_docs-copy boilerplate bucket (> cap in all 16
    bands) is dropped entirely, so the output is exactly the organic
    exact-Jaccard pair set — the oracle asserts both the drop and the
    undisturbed recall below the cap."""
    skewed, _, cap = _skew_fixture(spark, sf_dir)
    pairs = minhash_lsh_dups(
        skewed, "text", "doc_id",
        k=3, num_hashes=32, bands=16, threshold=0.2,
        max_bucket_size=cap, buckets=_skew_minhash_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard")
    )


def dedup_minhash_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-caps audit on the skewed fixture: every over-cap
    MinHash bucket.  Boilerplate md5 band buckets admit no organic
    collisions, so the geometry is exact: 16 buckets × 2·n_docs members
    (the oracle recomputes 2·n_docs from count(documents))."""
    skewed, _, cap = _skew_fixture(spark, sf_dir)
    hot = minhash_hot_buckets(
        skewed, "text", "doc_id",
        k=3, num_hashes=32, bands=16, max_bucket_size=cap,
        buckets=_skew_minhash_buckets(spark, sf_dir),
    )
    return hot.agg(
        F.count("*").alias("n_hot_buckets"),
        F.min("n_members").alias("min_members"),
        F.max("n_members").alias("max_members"),
    )


DEDUP_MINHASH_HOT_SQL = """
SELECT 16::BIGINT AS n_hot_buckets,
       (2 * (SELECT count(*) FROM documents))::BIGINT AS min_members,
       (2 * (SELECT count(*) FROM documents))::BIGINT AS max_members
"""


def dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs WITH the cap on the skewed fixture (5
    12-bit blocks): all 5 boilerplate block buckets are hot and dropped;
    organic pairs keep pigeonhole completeness below the cap (largest
    organic block bucket measures ~11% of n_docs vs cap = n_docs)."""
    skewed, _, cap = _skew_fixture(spark, sf_dir)
    pairs = simhash_dups(
        skewed, "text", "doc_id",
        max_hamming=4, blocks=5, max_bucket_size=cap,
        buckets=_skew_simhash_buckets(spark, sf_dir),
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def dedup_simhash_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop audit for the SimHash cap.  A 12-bit block value CAN collide
    with organic signatures (4096 values/block), so the member count is
    asserted as ≥ 2·n_docs rather than an exact literal."""
    skewed, _, cap = _skew_fixture(spark, sf_dir)
    hot = simhash_hot_buckets(
        skewed, "text", "doc_id",
        max_hamming=4, blocks=5, max_bucket_size=cap,
        buckets=_skew_simhash_buckets(spark, sf_dir),
    )
    return hot.agg(
        F.count("*").alias("n_hot_buckets"),
        (F.min("n_members") >= 2 * cap).alias("boiler_sized"),
    )


DEDUP_SIMHASH_HOT_SQL = """
SELECT 5::BIGINT AS n_hot_buckets, true AS boiler_sized
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⨝dim via :func:`salted_join` on a genuinely hot key:
    ``l_returnflag`` has 3 distinct values over the whole lineitem table,
    so an unsalted shuffle join lands ~1/3 of the fact on each of THREE
    reduce tasks regardless of cluster size; the salt spreads each flag
    over 16.  The oracle is the plain join — salting must be row-for-row
    invisible in the result."""
    from qdrant_datafusion_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem")
    dim = li.select("l_returnflag").distinct().withColumn(
        "flag_label", F.concat(F.lit("flag-"), F.col("l_returnflag"))
    )
    joined = salted_join(
        li, dim, on="l_returnflag", row_col="l_orderkey", num_salts=16
    )
    return joined.groupBy("flag_label").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double"), 2
        ).alias("total_price"),
    )


Q_SALTED_JOIN_SQL = """
WITH dim AS (
  SELECT DISTINCT l_returnflag, 'flag-' || l_returnflag AS flag_label
  FROM lineitem
)
SELECT flag_label, count(*) AS n,
       round(sum(l_extendedprice::DECIMAL(18,6))::DOUBLE, 2) AS total_price
FROM lineitem JOIN dim USING (l_returnflag)
GROUP BY flag_label
"""


QUERIES["q_salted_join"] = q_salted_join
ORACLES["q_salted_join"] = Q_SALTED_JOIN_SQL


def q_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-dimension lookup as an equi-join: orders priced into 63
    OVERLAPPING price bands (stride 8000, width 14000 — most orders
    match two bands) via :func:`joins.range_bucket_join`.  Spark plans
    the naive ``BETWEEN`` join as BroadcastNestedLoopJoin (O(n·m) row
    comparisons); the bucket expansion turns it into a broadcast HASH
    join on the bucket id with the exact BETWEEN as a post-filter —
    row-for-row the same answer (the oracle IS the naive join)."""
    from qdrant_datafusion_spark.operators.joins import range_bucket_join

    orders = _t(spark, sf_dir, "orders")
    bands = spark.range(0, 63).select(
        F.concat(
            F.lit("band_"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("band"),
        (F.col("id") * 8000.0).alias("lo"),
        (F.col("id") * 8000.0 + 14000.0).alias("hi"),
    )
    joined = range_bucket_join(
        orders, bands, "o_totalprice", bucket_width=8000.0
    )
    return joined.groupBy("band").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


Q_RANGE_BUCKET_JOIN_SQL = """
WITH bands AS (
  SELECT 'band_' || lpad(i::VARCHAR, 2, '0') AS band,
         i * 8000.0 AS lo, i * 8000.0 + 14000.0 AS hi
  FROM (SELECT unnest(generate_series(0, 62)) AS i)
)
SELECT band, count(*)::BIGINT AS n_orders,
       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS sum_price
FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
GROUP BY band
"""

QUERIES["q_range_bucket_join"] = q_range_bucket_join
ORACLES["q_range_bucket_join"] = Q_RANGE_BUCKET_JOIN_SQL


def q_json_length_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_length + json-object key semantics — the last two functions
    of the reference's registered datafusion-functions-json suite
    (reference src/udfs.rs:13-16).  events.props yields keys / key count /
    the ``k`` value from ONE parsed map; a data-derived JSON *array* —
    ``[0,0,...]`` with (k mod 4)+1 elements — exercises the array arm of
    json_length with a value the oracle recomputes.  (The object arm of
    json_length and ``json_object_keys`` proper are pinned by the pytest
    semantics matrix in test_functions.py.)"""
    from qdrant_datafusion_spark.functions.json_fns import json_length

    ev = _t(spark, sf_dir, "events")
    # parse props ONCE into a map (r4 called get_json_object +
    # json_object_keys + json_array_length, three independent JSON parses
    # per row — the most expensive headline query at 8.3s); keys / key
    # count / the 'k' value all derive from the single parsed map.
    # json_length still runs a real parse on the constructed array
    # literal — that parse IS the function under test.
    parsed = ev.select(F.from_json(F.col("props"), "map<string,string>").alias("m"))
    arr_json = F.concat(
        F.lit("["),
        F.expr("repeat('0,', pmod(cast(m['k'] as int), 4))"),
        F.lit("0]"),
    )
    sel = parsed.select(
        json_length(arr_json).alias("arr_len"),
        F.array_join(F.map_keys("m"), ",").alias("obj_keys"),
        F.size("m").alias("n_keys"),
    )
    return sel.groupBy("arr_len", "obj_keys", "n_keys").agg(
        F.count("*").alias("n")
    )


# Spark pmod(k, 4) maps negatives into [0, 3]; DuckDB's % keeps the sign,
# so the oracle spells the pmod arithmetic out — the fixture's k is
# nonnegative today, but the gate must not silently depend on that.
Q_JSON_LENGTH_KEYS_SQL = """
WITH j AS (
  SELECT json_array_length('[' || repeat('0,', ((props->>'k')::INT % 4 + 4) % 4) || '0]')::INT AS arr_len,
         array_to_string(json_keys(props), ',') AS obj_keys,
         len(json_keys(props))::INT AS n_keys
  FROM events
)
SELECT arr_len, obj_keys, n_keys, count(*) AS n
FROM j
GROUP BY arr_len, obj_keys, n_keys
"""


QUERIES["q_json_length_keys"] = q_json_length_keys
ORACLES["q_json_length_keys"] = Q_JSON_LENGTH_KEYS_SQL
QUERIES["dedup_minhash_capped"] = dedup_minhash_capped
QUERIES["dedup_minhash_hot"] = dedup_minhash_hot
QUERIES["dedup_simhash_capped"] = dedup_simhash_capped
QUERIES["dedup_simhash_hot"] = dedup_simhash_hot
# the capped run over the skewed fixture must equal the uncapped organic
# pair set — reusing the organic exact-pairs oracles IS the assertion
ORACLES["dedup_minhash_capped"] = DEDUP_JACCARD_SQL
ORACLES["dedup_minhash_hot"] = DEDUP_MINHASH_HOT_SQL
ORACLES["dedup_simhash_capped"] = DEDUP_SIMHASH_SQL
ORACLES["dedup_simhash_hot"] = DEDUP_SIMHASH_HOT_SQL


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup removal — the full curation policy in one
    query: exact-Jaccard pairs → connected components → keep per cluster
    the HIGHEST-quality member (not the min id), ties broken by id.
    This is what production pipelines actually ship (of a boilerplate
    family, keep the clean copy, drop the mangled ones); min-id survivor
    selection (dedup_clusters) is the policy-free default.

    Ranking is exact cross-engine: the quality double converts to e12
    fixed-point (the text_quality gate's convention) BEFORE the window,
    so the order-by compares integers.  Output (doc_id, cluster_id,
    quality_e12, kept) is one row per document — survivors and the drop
    audit in the same result.  Plan: the pair/cluster path is the
    dedup_clusters plan; the policy adds one broadcast-size join (only
    paired docs have cluster rows) + ONE shuffle on cluster_id.
    """
    from qdrant_datafusion_spark.functions.text import quality_score
    from qdrant_datafusion_spark.operators.dedup import select_canonical

    docs = _t(spark, sf_dir, "documents")
    # banded MinHash-LSH is the pair generator (not the exact shingle
    # join): raw-shingle join keys go hot on common shingles at scale,
    # band buckets don't.  At the gate banding the LSH pair set equals
    # the exact Jaccard pair set — that equality is ITSELF gate-proven
    # (dedup_minhash grades against the exact-pairs oracle), which is
    # what entitles this gate's oracle to model clusters from exact
    # pairs.  Uncapped to match the oracle's complete-pairs contract;
    # production composes the capped form + minhash_hot_buckets audit.
    pairs = minhash_lsh_dups(
        docs, "text", "doc_id", k=3, num_hashes=32, bands=16, threshold=0.2,
        max_bucket_size=None, buckets=_doc_minhash_buckets(spark, sf_dir),
    )
    clusters = dup_clusters(pairs)
    q12 = (
        quality_score("text", stopwords=("the", "a")).cast("decimal(18,12)")
        * F.lit(10**12)
    ).cast("long")
    out = select_canonical(docs, clusters, "doc_id", q12)
    return out.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.col("score").alias("quality_e12"),
        "kept",
    )


# cluster CTEs identical to DEDUP_CLUSTERS_SQL; quality expression and its
# e12 fixed-point conversion identical to TEXT_QUALITY_SQL's inner CTE
DEDUP_KEEP_BEST_SQL = _SHINGLES_SQL.replace(
    "WITH t AS", "WITH RECURSIVE t AS", 1
) + """
, pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b AS src, id_a AS dst FROM pr
),
walk(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.id
),
cl AS (
  SELECT id, min(label) AS cluster_id FROM walk GROUP BY id
),
q AS (
  SELECT doc_id,
         ((0.4 * least(length(text)::DOUBLE / 1000.0, 1.0)
          + 0.3 * (CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                             / length(text)
                        ELSE 0 END)
          + 0.3 * ((list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                              x -> x <> ''), 'the')::INT
                    + list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                                x -> x <> ''), 'a')::INT)::DOUBLE / 2)
          )::DECIMAL(18,12) * 1000000000000)::BIGINT AS quality_e12
  FROM documents
),
lab AS (
  SELECT d.doc_id,
         coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
         q.quality_e12
  FROM documents d
  JOIN q USING (doc_id)
  LEFT JOIN cl ON cl.id = d.doc_id
)
SELECT doc_id::BIGINT AS doc_id,
       cluster_id::BIGINT AS cluster_id,
       quality_e12,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality_e12 DESC, doc_id ASC) = 1 AS kept
FROM lab
"""

QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = DEDUP_KEEP_BEST_SQL


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2022 shape): per document, how
    many of its tokens sit inside a k-token span that occurs at more than
    one (doc, pos) location corpus-wide.  k=5 on the word-soup fixture;
    production uses k≈50 BPE tokens.  ``dup_frac`` is the curation gate
    ("drop or trim documents over X% duplicated text")."""
    from qdrant_datafusion_spark.operators.dedup import substring_dup_spans

    docs = _t(spark, sf_dir, "documents")
    out = substring_dup_spans(docs, "text", "doc_id", k=5)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_dup_starts",
        "covered_tokens",
        _ratio_round6(F.col("covered_tokens"), F.col("n_tokens")).alias("dup_frac"),
    )


#: mirrors substring_dup_spans: shingle md5 at every position (not
#: distinct — within-doc repeats are duplications too), duplicated =
#: count > 1 anywhere, coverage = closed-form union of sorted [p, p+5)
#: intervals via lag
DEDUP_SUBSTRING_SQL = f"""
WITH t AS ({_TOKS_SQL}),
ps AS (
  SELECT doc_id, len(toks) AS n, toks,
         unnest(generate_series(0, len(toks) - 5)) AS p
  FROM t WHERE len(toks) >= 5
),
sh2 AS (
  SELECT doc_id, n, p, md5(array_to_string(toks[p + 1 : p + 5], ' ')) AS h
  FROM ps
),
dup AS (SELECT h FROM sh2 GROUP BY h HAVING count(*) > 1),
fl AS (SELECT sh2.doc_id, sh2.n, sh2.p FROM sh2 JOIN dup USING (h)),
cov AS (
  SELECT doc_id, n,
         least(5, p - coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p),
                               -5)) AS c
  FROM fl
)
SELECT doc_id,
       max(n)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_dup_starts,
       sum(c)::BIGINT AS covered_tokens,
       {_ratio6_sql("sum(c)", "max(n)")} AS dup_frac
FROM cov
GROUP BY doc_id
"""


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune semantic dedup, arXiv:2303.09540):
    assign each embedding to its nearest centroid (the 8 seeded literal
    IVF centroids — deterministic and SQL-mirrorable, exactly like
    ann_ivf_topk), then within each cluster drop rows with a lower-id
    member inside the cosine-0.35 ball.  One row per embedded vector:
    survivors (dropped = 0) plus the removal audit."""
    from qdrant_datafusion_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, "embedding", "vec_id", IVF_CENTROIDS, threshold=0.35
    )
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        "n_lower_dups",
        "dropped",
        "max_cos_lower",
    )


def _semantic_oracle_sql() -> str:
    cent_dots = ", ".join(
        f"list_dot_product(v, {_sql_array(c)}::DOUBLE[])" for c in IVF_CENTROIDS
    )
    cos = (
        "round(list_dot_product(a.v, b.v)"
        " / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    return f"""
WITH assigned AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE embedding IS NOT NULL
),
cl AS (
  SELECT vec_id, v,
         (list_position([{cent_dots}],
                        list_max([{cent_dots}])) - 1)::INT AS cluster
  FROM assigned
),
pairs AS (
  SELECT b.vec_id AS id, {cos} AS cos
  FROM cl a JOIN cl b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {cos} >= 0.35
),
agg AS (
  SELECT id, count(*) AS n_lower_dups, max(cos) AS max_cos_lower
  FROM pairs GROUP BY id
)
SELECT c.vec_id,
       c.cluster,
       coalesce(a.n_lower_dups, 0)::BIGINT AS n_lower_dups,
       (a.id IS NOT NULL)::INT AS dropped,
       coalesce(a.max_cos_lower, -1.0) AS max_cos_lower
FROM cl c LEFT JOIN agg a ON c.vec_id = a.id
"""


def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (training-order randomization) —
    md5(id:seed) order via the distributed two-phase position scan, never
    a single-partition sort.  The gate summarizes 50-row stripes of the
    permutation with a position-weighted checksum, so any row at the
    wrong global position flips a stripe row."""
    from qdrant_datafusion_spark.operators.pipeline import global_shuffle

    docs = _t(spark, sf_dir, "documents")
    out = global_shuffle(docs, "doc_id", seed=42)
    return (
        out.groupBy(F.floor(F.col("pos") / 50).cast("long").alias("stripe"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum((F.col("pos") + 1) * F.col("doc_id"))
            .cast("long")
            .alias("pos_id_sum"),
        )
    )


PIPELINE_GLOBAL_SHUFFLE_SQL = """
WITH k AS (
  SELECT doc_id, md5(doc_id::VARCHAR || ':42') AS key FROM documents
),
p AS (
  SELECT doc_id, row_number() OVER (ORDER BY key) - 1 AS pos FROM k
)
SELECT (pos // 50)::BIGINT AS stripe,
       count(*)::BIGINT AS n,
       sum(doc_id)::BIGINT AS id_sum,
       sum((pos + 1) * doc_id)::BIGINT AS pos_id_sum
FROM p
GROUP BY 1
"""


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020): a bigram
    LM trained on the corpus itself scores every document's average
    token log-probability; documents split into 3 perplexity buckets
    (1 = head / most fluent, 3 = tail).  The distributed shape — model
    build by shrinking aggregation, model apply by broadcast join,
    bucket by two-phase global rank — is exactly what a KenLM-scored
    100 TB curation run does."""
    from qdrant_datafusion_spark.operators.pipeline import lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity(docs, "text", "doc_id", n_buckets=3)


#: mirrors lm_perplexity: add-one bigram LM, log-probs quantized to
#: integer 1e-9 units (the double division of exact integers is
#: IEEE-identical, so both engines round the same double), exact HALF_UP
#: 9->6 weighted mean, bucket = (rank * 3) div total on (u6 DESC, id)
TEXT_PERPLEXITY_SQL = f"""
WITH t AS ({_TOKS_SQL}),
big AS (
  SELECT doc_id, u.bg[1] AS w1, u.bg[2] AS w2
  FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 2) s,
       unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS u(bg)
),
doc_big AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM big GROUP BY ALL),
bgc AS (SELECT w1, w2, sum(cnt) AS c_bg FROM doc_big GROUP BY ALL),
ctx AS (SELECT w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY ALL),
voc AS (
  SELECT count(DISTINCT tok) AS V
  FROM (SELECT w1 AS tok FROM bgc UNION SELECT w2 FROM bgc)
),
model AS (
  SELECT w1, w2,
         round(ln((c_bg + 1)::DOUBLE / (c_w1 + V)::DOUBLE) * 1e9)::BIGINT AS lp9
  FROM bgc JOIN ctx USING (w1) CROSS JOIN voc
),
sc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
         sum(cnt::HUGEINT * lp9) AS p
  FROM doc_big JOIN model USING (w1, w2) GROUP BY doc_id
),
u AS (
  SELECT doc_id, n_bigrams,
         (CASE WHEN p < 0
           THEN -((2 * abs(p) + n_bigrams::HUGEINT * 1000)
                  // (2 * n_bigrams::HUGEINT * 1000))
           ELSE ((2 * abs(p) + n_bigrams::HUGEINT * 1000)
                 // (2 * n_bigrams::HUGEINT * 1000)) END)::BIGINT AS u6
  FROM sc
),
pos AS (
  SELECT doc_id, n_bigrams, u6,
         row_number() OVER (ORDER BY u6 DESC, doc_id) - 1 AS pos,
         count(*) OVER () AS total
  FROM u
)
SELECT doc_id, n_bigrams, (u6 / 1000000.0) AS avg_logp,
       ((pos * 3) // total + 1)::INT AS ppl_bucket
FROM pos
"""


QUERIES["dedup_substring"] = dedup_substring
ORACLES["dedup_substring"] = DEDUP_SUBSTRING_SQL
QUERIES["dedup_semantic"] = dedup_semantic
ORACLES["dedup_semantic"] = _semantic_oracle_sql()
QUERIES["pipeline_global_shuffle"] = pipeline_global_shuffle
ORACLES["pipeline_global_shuffle"] = PIPELINE_GLOBAL_SHUFFLE_SQL
QUERIES["text_perplexity"] = text_perplexity
ORACLES["text_perplexity"] = TEXT_PERPLEXITY_SQL


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users who
    performed each stage strictly after their earliest qualifying
    previous-stage event, with per-stage conversion ratios (exact
    HALF_UP at 6 decimals; an empty upstream stage converts at 0.0 —
    the den=0 guard matters because ANSI integer `%` by zero throws,
    it does not NULL).  One keyed join + groupBy per stage — see
    operators.temporal.funnel_stages for the scale argument."""
    from qdrant_datafusion_spark.operators.temporal import funnel_stages

    ev = _events(spark, sf_dir)  # nanos-normalized; ordering-isomorphic
    base = funnel_stages(ev, ["view", "click", "purchase"])
    return _funnel_present(base)


def _funnel_present(base: DataFrame) -> DataFrame:
    """Shared funnel presentation: per-stage conversion ratios (exact
    HALF_UP at 6 decimals, den=0 → 0.0) over a ``(stage_idx, stage,
    users)`` frame — used by both the batch funnel gate and its
    streaming twin so the two are graded by the SAME oracle."""
    w = Window.orderBy("stage_idx")
    prev = F.lag("users").over(w)
    first = F.first("users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def conv(den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            _ratio_round6(F.col("users"), den)
        )

    return base.select(
        "stage_idx",
        "stage",
        "users",
        F.coalesce(conv(prev), F.lit(1.0)).alias("conv_prev"),
        conv(first).alias("conv_start"),
    )


_FUNNEL_PREV = "lag(users) OVER (ORDER BY stage_idx)"
_FUNNEL_FIRST = "first_value(users) OVER (ORDER BY stage_idx)"
Q_EVENTS_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id AS u, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY 1
),
s3 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY 1
),
c AS (
  SELECT 1 AS stage_idx, 'view' AS stage,
         (SELECT count(*) FROM s1) AS users
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT stage_idx::INT AS stage_idx, stage, users::BIGINT AS users,
       coalesce(CASE WHEN ({_FUNNEL_PREV}) = 0 THEN 0.0
                ELSE {_ratio6_sql("users", _FUNNEL_PREV)} END, 1.0)
         AS conv_prev,
       CASE WHEN ({_FUNNEL_FIRST}) = 0 THEN 0.0
            ELSE {_ratio6_sql("users", _FUNNEL_FIRST)} END AS conv_start
FROM c
"""


QUERIES["q_events_funnel"] = q_events_funnel
ORACLES["q_events_funnel"] = Q_EVENTS_FUNNEL_SQL


def _knn_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine kNN table (id, nbr_id, score, rank) over
    embeddings — the identical construction ann_knn_graph emits and
    graph_pagerank / graph_trustrank / graph_hits start from.  Built
    once per (session, sf_dir) and pinned with an eager localCheckpoint,
    so the blocked-GEMM scoring pass runs once per sweep instead of once
    per gate (round 12: widened from the 2-col edge projection so the
    ann gate rides it too)."""
    from qdrant_datafusion_spark.operators.ann import self_knn_join

    def build(pin):
        emb = _t(spark, sf_dir, "embeddings")
        return pin(self_knn_join(emb, "embedding", "vec_id", k=5), lineage=False)

    return shared_build(spark, ("knn", sf_dir), build)


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (src, dst) edge projection of the memoized kNN table."""
    return _knn_table(spark, sf_dir).select(
        F.col("id").alias("src"), F.col("nbr_id").alias("dst")
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-centrality data selection: PageRank (3 fixed-point
    iterations, d=0.85) over the corpus kNN graph (exact top-5 cosine
    neighbors — the ann_knn_graph edges).  All rank arithmetic is
    integer HALF_UP in 1e-9 units, so the DuckDB oracle unrolling the
    identical arithmetic matches bit-for-bit; see operators.graph."""
    from qdrant_datafusion_spark.operators.graph import pagerank

    return pagerank(_knn_edges(spark, sf_dir), "src", "dst", iters=3)


def _knn_edges_cte() -> str:
    """Shared exact-kNN edge CTEs (scored/rk/e/nodes/dg) for the graph
    oracles — also the edge construction graph_pagerank/graph_trustrank
    share on the Spark side via self_knn_join."""
    return """
WITH scored AS (
  SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
               6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
),
rk AS (
  SELECT id, nbr_id,
         row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rank
  FROM scored
),
e AS MATERIALIZED (SELECT id AS s, nbr_id AS dd FROM rk WHERE rank <= 5),
nodes AS MATERIALIZED (SELECT s AS n FROM e UNION SELECT dd FROM e),
dg AS MATERIALIZED (SELECT s, count(*) AS deg FROM e GROUP BY s)"""


def _pagerank_oracle_sql(
    iters: int = 3,
    units: int = 10**9,
    d: int = 85,
    seeds: list[int] | None = None,
    limit: int | None = None,
) -> str:
    """ONE unrolled integer-PageRank oracle builder for both teleport
    modes — mirrors operators.graph.pagerank's seeds parameter exactly,
    so the uniform and personalized gates cannot drift apart.  With
    ``seeds``: r0 and the (1-d) base go only to the seed set (both
    precomputed python ints, matching the Spark side's literals);
    without: the uniform ncount terms."""
    base_num = (100 - d) * units
    if seeds is None:
        r0_sql = f"(2 * {units} + ncount) // (2 * ncount)"
        base_sql = "(2 * {bn} + 100 * p.ncount) // (200 * p.ncount)".format(
            bn=base_num
        )
        st0_extra = ", ncount"
        st0_from = "FROM nodes LEFT JOIN dg ON n = s CROSS JOIN nn"
        nn_cte = ",\nnn AS (SELECT count(*) AS ncount FROM nodes)"
        it_cols = "p.n, p.deg, p.ncount"
    else:
        ns = len(seeds)
        seed_list = ", ".join(str(x) for x in seeds)
        r0 = (2 * units + ns) // (2 * ns)
        base = (2 * base_num + 100 * ns) // (200 * ns)
        r0_sql = f"CASE WHEN n IN ({seed_list}) THEN {r0} ELSE 0 END"
        base_sql = f"CASE WHEN p.n IN ({seed_list}) THEN {base} ELSE 0 END"
        st0_extra = ""
        st0_from = "FROM nodes LEFT JOIN dg ON n = s"
        nn_cte = ""
        it_cols = "p.n, p.deg"
    cte = _knn_edges_cte() + nn_cte + f""",
st0 AS (
  SELECT n, coalesce(deg, 0) AS deg{st0_extra},
         {r0_sql} AS r
  {st0_from}
)"""
    prev = "st0"
    for i in range(1, iters + 1):
        cte += f""",
st{i} AS (
  SELECT {it_cols},
         {base_sql}
         + (2 * {d} * coalesce(f.s_in, 0) + 100) // 200 AS r
  FROM {prev} p LEFT JOIN (
    SELECT e.dd, sum((2 * st.r + st.deg) // (2 * st.deg)) AS s_in
    FROM e JOIN {prev} st ON e.s = st.n WHERE st.deg > 0 GROUP BY e.dd
  ) f ON p.n = f.dd
)"""
        prev = f"st{i}"
    tail = f"""
SELECT n AS node, r::BIGINT AS rank_units, (r / {float(units)}) AS pagerank
FROM {prev}
"""
    if limit is not None:
        tail += f"ORDER BY rank_units DESC, node ASC\nLIMIT {limit}\n"
    return tail and cte + tail


#: trusted seed set for graph_trustrank (first 10 vectors stand in for a
#: hand-vetted corpus; deterministic, oracle-literal)
TRUST_SEEDS = list(range(10))


def graph_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (personalized PageRank, Gyöngyi et al. 2004): quality
    propagation from a trusted seed set through the kNN similarity
    graph — teleport mass goes only to seeds, so rank measures
    proximity to the vetted corpus.  Same all-integer arithmetic as
    graph_pagerank; top-50 by rank (rank desc, node asc) keeps the gate
    output focused on the endorsed set."""
    from qdrant_datafusion_spark.operators.graph import pagerank

    out = pagerank(
        _knn_edges(spark, sf_dir), "src", "dst", iters=3, seeds=TRUST_SEEDS
    )
    return out.orderBy(F.desc("rank_units"), F.asc("node")).limit(50)



QUERIES["graph_pagerank"] = graph_pagerank
ORACLES["graph_pagerank"] = _pagerank_oracle_sql()
QUERIES["graph_trustrank"] = graph_trustrank
ORACLES["graph_trustrank"] = _pagerank_oracle_sql(seeds=TRUST_SEEDS, limit=50)


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the same corpus
    kNN graph the pagerank pair uses (shared memoized edge table):
    authorities = documents many neighborhoods point at (canonical —
    keep), hubs = documents whose neighbor lists cover many authorities
    (diversity-sampling seeds).  Integer L1-normalized iteration, so the
    unrolled DuckDB oracle matches bit-for-bit; see operators.graph.hits
    for the shuffle-shape and overflow arguments."""
    from qdrant_datafusion_spark.operators.graph import hits

    return hits(_knn_edges(spark, sf_dir), "src", "dst", iters=2)


def _hits_oracle_sql(iters: int = 2, units: int = 10**6) -> str:
    """Unrolled integer-HITS oracle: mirrors operators.graph.hits —
    per half-iteration one edge⨝state sum and the HALF_UP
    ``(2·v·units + S) // (2·S)`` L1 normalization."""
    cte = _knn_edges_cte() + f""",
nn AS (SELECT count(*) AS ncount FROM nodes),
h0 AS (SELECT n, (2 * {units} + ncount) // (2 * ncount) AS h
       FROM nodes CROSS JOIN nn)"""
    prev_h = "h0"
    for i in range(1, iters + 1):
        cte += f""",
a{i}r AS (SELECT e.dd AS n, sum(p.h)::BIGINT AS v
          FROM e JOIN {prev_h} p ON e.s = p.n GROUP BY 1),
a{i}s AS (SELECT sum(v)::BIGINT AS s FROM a{i}r),
a{i} AS (SELECT nodes.n,
                ((2 * coalesce(r.v, 0) * {units} + t.s)
                 // (2 * t.s))::BIGINT AS a
         FROM nodes LEFT JOIN a{i}r r ON nodes.n = r.n CROSS JOIN a{i}s t),
h{i}r AS (SELECT e.s AS n, sum(p.a)::BIGINT AS v
          FROM e JOIN a{i} p ON e.dd = p.n GROUP BY 1),
h{i}s AS (SELECT sum(v)::BIGINT AS s FROM h{i}r),
h{i} AS (SELECT nodes.n,
                ((2 * coalesce(r.v, 0) * {units} + t.s)
                 // (2 * t.s))::BIGINT AS h
         FROM nodes LEFT JOIN h{i}r r ON nodes.n = r.n CROSS JOIN h{i}s t)"""
        prev_h = f"h{i}"
    return cte + f"""
SELECT a{iters}.n AS node, a{iters}.a AS auth_units, h{iters}.h AS hub_units,
       (a{iters}.a / {float(units)}) AS authority,
       (h{iters}.h / {float(units)}) AS hub
FROM a{iters} JOIN h{iters} ON a{iters}.n = h{iters}.n
"""


QUERIES["graph_hits"] = graph_hits
ORACLES["graph_hits"] = _hits_oracle_sql()


def v_search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-10 (λ=0.7) against the shared literal query —
    the diversity-aware sibling of v_search_topk: picks trade relevance
    against max-similarity to the already-picked set, all-integer
    argmax so the unrolled DuckDB oracle matches exactly.  See
    operators.ann.mmr_select for the scale/driver-state argument."""
    from qdrant_datafusion_spark.operators.ann import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    picks = mmr_select(
        emb, "embedding", "vec_id", QUERY_VEC, k=10, lambda_pct=70
    )
    return spark.createDataFrame(
        picks, "rank int, vec_id long, mmr_units long"
    )


def _mmr_oracle_sql(k: int = 10, lp: int = 70, units: int = 10**6) -> str:
    """Unrolled greedy-MMR oracle mirroring mmr_select's integer argmax."""
    mu = 100 - lp

    def cos_u(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))) * {units})::BIGINT"
        )

    sql = f"""
WITH q AS (SELECT {_sql_array(QUERY_VEC)}::DOUBLE[] AS qv),
cand AS MATERIALIZED (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         {cos_u('embedding::DOUBLE[]', 'qv')} AS rel_u
  FROM embeddings, q
  WHERE embedding IS NOT NULL
),
s1 AS (
  SELECT id, v, ({lp} * rel_u)::BIGINT AS mmr_u
  FROM cand ORDER BY mmr_u DESC, id LIMIT 1
),
sel1 AS (SELECT id, v FROM s1)"""
    for i in range(2, k + 1):
        sql += f""",
s{i} AS (
  SELECT c.id, c.v,
         ({lp} * c.rel_u - {mu} * max({cos_u('c.v', 's.v')}))::BIGINT AS mmr_u
  FROM cand c CROSS JOIN sel{i - 1} s
  WHERE c.id NOT IN (SELECT id FROM sel{i - 1})
  GROUP BY c.id, c.v, c.rel_u
  ORDER BY mmr_u DESC, c.id LIMIT 1
),
sel{i} AS MATERIALIZED (SELECT id, v FROM sel{i - 1} UNION ALL SELECT id, v FROM s{i})"""
    sql += "\n" + "\nUNION ALL\n".join(
        f"SELECT {i}::INT AS rank, id AS vec_id, mmr_u AS mmr_units FROM s{i}"
        for i in range(1, k + 1)
    )
    return sql


QUERIES["v_search_mmr"] = v_search_mmr
ORACLES["v_search_mmr"] = _mmr_oracle_sql()


def text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus diagnostics — the "is this crawl worth keeping"
    profile: document/token volume, type-token ratio (lexical
    diversity), and exact Shannon token entropy in bits.  Entropy uses
    the perplexity machinery's integer trick: per-token ``log2(c/N)``
    quantized once to 1e-9 units, count-weighted sums exact in
    decimal(38,0), HALF_UP 9→6 mean — engine-identical regardless of
    summation order.  Plan: one explode → one (source, token) count
    shuffle → strictly shrinking per-source aggregates."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    counts = tok.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    per_src = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    # lp9 = round(log2(c / N) * 1e9): the double division of exact longs
    # is IEEE-identical cross-engine, so both sides round the same double
    scored = counts.join(per_src, "source").select(
        "source",
        "c",
        "n_tokens",
        "n_types",
        F.round(
            F.log2(F.col("c").cast("double") / F.col("n_tokens").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("_lp9"),
    )
    agg = scored.groupBy("source", "n_tokens", "n_types").agg(
        # cast BEFORE the sum (the _avg_round6 rule): an int64 sum of
        # c*lp9 overflows at ~1e9 tokens/source under ANSI
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("_lp9")).alias("_p")
    )
    n_docs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    # HALF_UP 9 -> 6 weighted by n_tokens; entropy = -mean(log2 p) >= 0
    q = F.col("n_tokens").cast("decimal(38,0)") * F.lit(1000)
    a = F.abs(F.col("_p")) * 2 + q
    b = q * 2
    u6 = ((a - a % b) / b).cast("decimal(38,0)")
    return (
        agg.join(n_docs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            _ratio_round6(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
            (u6.cast("double") / F.lit(1e6)).alias("entropy_bits"),
        )
    )


TEXT_SOURCE_PROFILE_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (SELECT source, unnest(toks) AS tk FROM t),
counts AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY ALL),
per_src AS (
  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types
  FROM counts GROUP BY source
),
scored AS (
  SELECT c.source, c.c, p.n_tokens, p.n_types,
         round(log2(c.c::DOUBLE / p.n_tokens::DOUBLE) * 1e9)::BIGINT AS lp9
  FROM counts c JOIN per_src p USING (source)
),
agg AS (
  SELECT source, n_tokens, n_types,
         sum(c::HUGEINT * lp9) AS p
  FROM scored GROUP BY ALL
),
nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source)
SELECT a.source, nd.n_docs, a.n_tokens, a.n_types,
       {_ratio6_sql("a.n_types", "a.n_tokens")} AS ttr,
       (((2 * abs(a.p) + a.n_tokens::HUGEINT * 1000)
         // (2 * a.n_tokens::HUGEINT * 1000)) / 1000000.0) AS entropy_bits
FROM agg a JOIN nd USING (source)
"""


QUERIES["text_source_profile"] = text_source_profile
ORACLES["text_source_profile"] = TEXT_SOURCE_PROFILE_SQL


def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual mixing (the α-sampling trick of
    multilingual corpus assembly, UniMax-style): target share per lang ∝
    n^α, α=0.5, so the head language (en) is downsampled and the tail
    upsampled at constant total budget.  Rates are computed from counts
    (bounded driver collect: one row per language), rounded to 6
    decimals — the rounding is what makes the md5-coin threshold
    bit-identical cross-engine — then applied by the zero-shuffle
    :func:`operators.pipeline.mix_datasets` explode.  Output: per-lang
    audit (input docs, rate, emitted rows)."""
    from qdrant_datafusion_spark.operators.pipeline import (
        mix_datasets,
        temperature_rates,
    )

    # NULL langs are uncodable (no rate key, driver sort would choke on
    # None) and the oracle's USING(lang) join drops them too — exclude
    # them symmetrically up front
    docs = _t(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rates = temperature_rates(counts, alpha=0.5)
    mixed = mix_datasets(
        docs, rates, source_col="lang", id_col="doc_id", seed="temp"
    )
    out = mixed.groupBy("lang").agg(F.count("*").cast("long").alias("n_emitted"))
    base = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    rate_col = F.lit(None).cast("double")
    for s, r in sorted(rates.items()):
        rate_col = F.when(F.col("lang") == s, F.lit(r)).otherwise(rate_col)
    return base.join(out, "lang").select(
        "lang", "n_docs", rate_col.alias("rate"), "n_emitted"
    )


#: mirrors pipeline_mix_temperature: rate6 = round(sqrt(n)/z * total/n, 6)
#: — z is summed as INTEGER 1e-9-quantized terms on BOTH sides (integer
#: addition is order-independent, so DuckDB's unordered sum() cannot
#: diverge from python's at exact 0.5e-6 rate ties); copies =
#: floor(rate6) + (md5-prefix < frac(rate6) * 2^32 as 8-hex)
PIPELINE_MIX_TEMPERATURE_SQL = """
WITH cnt AS (
  SELECT lang, count(*)::BIGINT AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
tot AS (
  SELECT sum(n)::BIGINT AS total,
         sum(floor(sqrt(n::DOUBLE) * 1e9 + 0.5)::BIGINT)::DOUBLE / 1e9 AS z
  FROM cnt
),
rates AS (
  SELECT lang, n,
         round(sqrt(n::DOUBLE) / z * total::DOUBLE / n::DOUBLE, 6) AS rate
  FROM cnt, tot
),
thresholds AS (
  SELECT lang, n, rate,
         floor(rate)::BIGINT AS whole,
         lpad(lower(hex(least(trunc((rate - floor(rate)) * 4294967296.0),
                              4294967295.0)::BIGINT)), 8, '0') AS coin_hex
  FROM rates
),
emitted AS (
  SELECT d.lang,
         sum(t.whole
             + CASE WHEN substring(md5(d.doc_id::VARCHAR || ':temp'), 1, 8)
                         < t.coin_hex THEN 1 ELSE 0 END)::BIGINT AS n_emitted
  FROM documents d JOIN thresholds t USING (lang)
  GROUP BY d.lang
)
SELECT t.lang, t.n AS n_docs, t.rate, e.n_emitted
FROM thresholds t JOIN emitted e USING (lang)
WHERE e.n_emitted > 0
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value (20 buckets of 25 over
    [0, 500)): the classic profiling aggregate.  Bucket arithmetic is
    exact (floor of value/25 on identical doubles); per-bucket count +
    min/max rounded to 6.  Clamped on BOTH ends so out-of-domain values
    land in the edge buckets (negative → 0, ≥500 → 19) rather than
    inventing bucket ids outside the documented 20-bucket domain."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bucket = F.greatest(
        F.least(
            F.floor(F.col("value") / F.lit(25.0)).cast("long"),
            F.lit(19).cast("long"),
        ),
        F.lit(0).cast("long"),
    )
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
    )


Q_VALUE_HISTOGRAM_SQL = """
SELECT greatest(least(floor(value / 25.0)::BIGINT, 19), 0) AS bucket,
       count(*)::BIGINT AS n,
       round(min(value), 6) AS min_v,
       round(max(value), 6) AS max_v
FROM events
WHERE value IS NOT NULL
GROUP BY 1
"""


#: epoch-week bucket width in nanoseconds (integer arithmetic — week
#: boundaries identical in any engine, no calendar/timezone semantics)
_WEEK_NS = 7 * 86400 * 10**9


def q_events_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the classic product-analytics
    shape missing from the window/funnel family: users cohorted by
    first-signup week, activity counted per (cohort, week-offset),
    retention = active / cohort size at exact 6 decimals.  All time
    arithmetic is integer epoch-ns FLOOR division (:func:`_floor_div`,
    the q_events_hourly rule), so bucket boundaries are engine-identical
    to DuckDB's ``//`` for any timestamp sign — no post-epoch
    precondition."""
    ev = _events(spark, sf_dir)
    # one row per signed-up user, consumed by BOTH the activity join and
    # the cohort-size aggregate — checkpoint so the event log is scanned
    # twice (signup build + activity join), not three times
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint(eager=False)
    )
    cohort = _floor_div("s_ts", _WEEK_NS)
    joined = ev.join(signup, "user_id").where(F.col("ts") >= F.col("s_ts"))
    act = (
        joined.select(
            cohort.alias("cohort_week"),
            (_floor_div("ts", _WEEK_NS) - cohort).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )
    sizes = (
        signup.select(cohort.alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count("*").cast("long").alias("cohort_size"))
    )
    return act.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        _ratio_round6(F.col("n_active"), F.col("cohort_size")).alias(
            "retention"
        ),
    )


Q_EVENTS_COHORTS_SQL = f"""
WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tsn FROM events),
s AS (
  SELECT user_id, min(tsn) AS s_ts FROM e
  WHERE event_type = 'signup' GROUP BY 1
),
j AS (
  SELECT e.user_id, {_floor_div_sql("s.s_ts", _WEEK_NS)} AS cohort_week,
         {_floor_div_sql("e.tsn", _WEEK_NS)}
           - {_floor_div_sql("s.s_ts", _WEEK_NS)} AS week_offset
  FROM e JOIN s USING (user_id) WHERE e.tsn >= s.s_ts
),
act AS (
  SELECT cohort_week, week_offset,
         count(DISTINCT user_id)::BIGINT AS n_active
  FROM j GROUP BY ALL
),
sz AS (
  SELECT {_floor_div_sql("s_ts", _WEEK_NS)} AS cohort_week,
         count(*)::BIGINT AS cohort_size
  FROM s GROUP BY 1
)
SELECT a.cohort_week::BIGINT AS cohort_week,
       a.week_offset::BIGINT AS week_offset,
       a.n_active, z.cohort_size,
       {_ratio6_sql("a.n_active", "z.cohort_size")} AS retention
FROM act a JOIN sz z USING (cohort_week)
"""


QUERIES["q_events_cohorts"] = q_events_cohorts
ORACLES["q_events_cohorts"] = Q_EVENTS_COHORTS_SQL
QUERIES["pipeline_mix_temperature"] = pipeline_mix_temperature
ORACLES["pipeline_mix_temperature"] = PIPELINE_MIX_TEMPERATURE_SQL
QUERIES["q_value_histogram"] = q_value_histogram
ORACLES["q_value_histogram"] = Q_VALUE_HISTOGRAM_SQL


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

#: per-session monotonic suffix so repeated gate invocations (driver runs
#: the query, then may re-run it) never collide on a memory-sink name
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
    # the streaming file source only accepts a DIRECTORY; the driver lays
    # each table out as a single file, so stream the sf dir with a glob
    # filter selecting just that table's file
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_events_hourly, graded by the SAME oracle: the
    tumbling-window aggregate (streaming/ingest.windowed_event_counts)
    runs as a real streaming query (complete mode — append would withhold
    the final window until a later batch advanced the watermark), then
    window_start is mapped back to the batch gate's integer hour bucket.
    ``value`` is cast to decimal(18,6) BEFORE the streaming sum so the
    result is exact under any micro-batch summation order — same rule as
    the batch gate."""
    from qdrant_datafusion_spark.streaming.ingest import windowed_event_counts

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


def streaming_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under a value oracle, with REAL cross-batch
    state: documents are re-laid-out as 2 files and streamed with
    maxFilesPerTrigger=1, so the dropDuplicates state must carry hashes
    across micro-batches (>=2 batches exercise the cross-batch
    property; more only multiply fixed harness cost).  Which doc survives per hash is arrival-order
    dependent (not graded); the oracle-checkable invariant is exactly-once
    per distinct content hash: every hash present in the corpus appears
    exactly once among the survivors, whatever the batch split."""
    import shutil
    import tempfile

    from qdrant_datafusion_spark.streaming.ingest import stream_dedup_exact

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="sg_stream_dedup_")
    src = os.path.join(tmp, "src")
    docs.repartition(2).write.parquet(src)
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        kept = stream_dedup_exact(stream, "text")
        sink = _run_stream_to_table(kept, spark, "dedup", "append")
        # memory sink holds the rows; the temp source is no longer needed
        survivors = (
            sink.select(
                F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")
            )
            .groupBy("content_hash")
            .agg(F.count("*").cast("long").alias("n_survivors"))
        )
        survivors.collect()  # drain before the finally deletes the source
        return survivors
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_DEDUP_SQL = """
SELECT md5(lower(trim(text))) AS content_hash, 1::BIGINT AS n_survivors
FROM documents
GROUP BY 1
"""


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
    import shutil
    import tempfile

    from qdrant_datafusion_spark.streaming.ingest import stream_dedup_exact

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="sg_stream_dedup_wm_")
    src = os.path.join(tmp, "src")
    docs.repartition(2).write.parquet(src)
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn(
                "_evt", F.timestamp_seconds(F.col("doc_id") + F.lit(10**9))
            )
        )
        kept = stream_dedup_exact(
            stream, "text", watermark_col="_evt", watermark="365 days"
        )
        sink = _run_stream_to_table(kept, spark, "dedup_wm", "append")
        survivors = (
            sink.select(
                F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")
            )
            .groupBy("content_hash")
            .agg(F.count("*").cast("long").alias("n_survivors"))
        )
        survivors.collect()  # drain before the finally deletes the source
        return survivors
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    from qdrant_datafusion_spark.streaming.ingest import streaming_funnel

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


# ===========================================================================
# round-6: perceptual-hash image dedup (operators/phash.py).  The fixture
# images are planted PNGs whose integer pixel values follow a closed-form
# formula of (doc_id, y, x) — group gradient + one member-specific pixel
# bump, so each 8-member group yields near-dup pairs.  The SPARK side runs
# the REAL path (numpy pixels → encode_png → binary column → stdlib PNG
# decode → dHash → banded Hamming join); the ORACLE recomputes the 64 dHash
# bits directly from the same pixel formula (no image codec) and
# brute-forces pairs with bit_count(xor) — independent derivations meeting
# at the same integer codes.  Fixture capped at doc_id < 4096 so the
# oracle's all-pairs check stays O(4096²) at every sf.
# ===========================================================================

PHASH_DOC_CAP = 4096
PHASH_MAX_HAMMING = 4


def _phash_planted_pixels(i: int):
    """9×8 grayscale fixture image for doc ``i``: group (i//8) gradient
    base (mod 150) + a +100 bump at one member-specific pixel — flips ≤2
    gradient bits vs the group base, so within-group Hamming ≤ 4.  The
    horizontal stride is GROUP-dependent (23 + 7g mod 59, coprime-ish to
    the modulus), so different groups wrap at different columns and the
    gradient-sign codes decorrelate across groups — near-dup pairs are
    genuinely group-local, not a fixture-wide blob."""
    import numpy as np

    g, m = i // 8, i % 8
    y, x = np.mgrid[0:8, 0:9]
    stride = 23 + (g * 7) % 59
    p = ((x * stride + y * 17 + g * 53) % 150).astype(np.int32)
    if m > 0:
        p[m - 1, (g + m) % 9] += 100
    return p.astype(np.uint8)


def multimodal_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash near-dup image pairs over planted PNG blobs — real encoder,
    real decoder, real banded Hamming join (operators/phash.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_datafusion_spark.operators.imaging import encode_png
    from qdrant_datafusion_spark.operators.phash import phash_image_dups

    # no type annotations: this module's `from __future__ import
    # annotations` would stringify them and break pandas_udf inference
    _make_png = pandas_udf(
        lambda ids: pd.Series(
            [encode_png(_phash_planted_pixels(int(i))) for i in ids]
        ),
        "binary",
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < PHASH_DOC_CAP)
        .select("doc_id")
    )
    # spread BEFORE the synth-encode UDF: the whole encode→decode→hash
    # chain otherwise runs in the one-task single-row-group scan stage
    # (session.fan_out; the shuffle ships bare doc_ids).  parts sized to
    # ~128 rows/task — the caps are constants, and tiny per-task batches
    # make the Python worker roundtrip the dominant cost
    docs = fan_out(docs, "doc_id", parts=max(4, PHASH_DOC_CAP // 128))
    imgs = docs.select(
        F.col("doc_id").alias("id"), _make_png("doc_id").alias("media")
    )
    pairs = phash_image_dups(
        imgs, "media", "id", max_hamming=PHASH_MAX_HAMMING
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _phash_pairs_sql(cap: int) -> str:
    """Closed-form dHash pair oracle, cap-parametric so the cross-modal
    composition gate can reuse it at its own doc cap."""
    return f"""
WITH imgs AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
px AS (
  SELECT id, y, x,
         ((x * (23 + (g * 7) % 59) + y * 17 + g * 53) % 150)
         + CASE WHEN m > 0 AND y = m - 1 AND x = (g + m) % 9
                THEN 100 ELSE 0 END AS p
  FROM imgs,
       (SELECT unnest(generate_series(0, 7)) AS y),
       (SELECT unnest(generate_series(0, 8)) AS x)
),
bits AS (
  SELECT a.id, a.y * 8 + a.x AS k,
         CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  -- two's-complement packing: MSB-set codes go negative, matching
  -- Spark's signed bigint convention
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {PHASH_MAX_HAMMING}
"""


MULTIMODAL_PHASH_SQL = _phash_pairs_sql(PHASH_DOC_CAP)

QUERIES["multimodal_phash_dups"] = multimodal_phash_dups
ORACLES["multimodal_phash_dups"] = MULTIMODAL_PHASH_SQL


# ===========================================================================
# round-6: audio fingerprint dedup (operators/audio.py) — same
# independent-derivation design as the pHash gate: planted WAV clips whose
# int16 samples follow a closed-form (doc_id, t) formula; Spark runs the
# REAL path (synth samples → stdlib WAV encode → binary column → stdlib
# WAV parse → integer energy-envelope hash → banded Hamming join); the
# oracle recomputes frame energies with exact BIGINT sums from the same
# formula and brute-forces pairs.  Capped at doc_id < 512 so the oracle
# materializes only ~2.1M sample rows.
# ===========================================================================

AUDIO_DOC_CAP = 512
AUDIO_MAX_HAMMING = 4
AUDIO_FRAME = 64
_AUDIO_SAMPLES = 65 * AUDIO_FRAME  # 65 frames -> 64 comparison bits


def _audio_planted_samples(i: int):
    """int16 clip for doc ``i``: group (i//8) pseudo-random-energy base
    + a half-frame +64 boost in one member-specific frame — flips ≤2
    envelope bits vs the group base, so within-group Hamming ≤ 4."""
    import numpy as np

    g, m = i // 8, i % 8
    t = np.arange(_AUDIO_SAMPLES, dtype=np.int64)
    x = (t * (3 + g % 7) + (t * t) % 101 + 13 * g) % 256 - 128
    if m > 0:
        boost = (t // AUDIO_FRAME == m * 7) & (t % AUDIO_FRAME < 32)
        x = x + 64 * boost
    return x.astype(np.int16)


def multimodal_audio_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over planted WAV blobs — real encoder, real
    PCM parse, exact-integer envelope hash, real banded Hamming join
    (operators/audio.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_datafusion_spark.operators.audio import (
        audio_energy_dups,
        encode_wav,
    )

    _make_wav = pandas_udf(
        lambda ids: pd.Series(
            [encode_wav(_audio_planted_samples(int(i))) for i in ids]
        ),
        "binary",
    )
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < AUDIO_DOC_CAP)
        .select("doc_id")
    )
    # see multimodal_phash_dups (parts: ~64 rows/task of WAV encode)
    docs = fan_out(docs, "doc_id", parts=max(4, AUDIO_DOC_CAP // 64))
    clips = docs.select(
        F.col("doc_id").alias("id"), _make_wav("doc_id").alias("media")
    )
    pairs = audio_energy_dups(
        clips, "media", "id",
        max_hamming=AUDIO_MAX_HAMMING, frame_len=AUDIO_FRAME,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _audio_pairs_sql(cap: int) -> str:
    """Exact-BIGINT energy-envelope pair oracle, cap-parametric."""
    return f"""
WITH snd AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
tt AS (SELECT unnest(generate_series(0, {_AUDIO_SAMPLES - 1})) AS t),
samp AS (
  SELECT id, t // {AUDIO_FRAME} AS f,
         (t * (3 + g % 7) + (t * t) % 101 + 13 * g) % 256 - 128
         + CASE WHEN m > 0 AND t // {AUDIO_FRAME} = m * 7
                     AND t % {AUDIO_FRAME} < 32
                THEN 64 ELSE 0 END AS x
  FROM snd, tt
),
en AS (SELECT id, f, sum(x::BIGINT * x) AS e FROM samp GROUP BY 1, 2),
bits AS (
  SELECT a.id, a.f AS k, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.id = b.id AND b.f = a.f + 1
  WHERE a.f < 64
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {AUDIO_MAX_HAMMING}
"""


MULTIMODAL_AUDIO_SQL = _audio_pairs_sql(AUDIO_DOC_CAP)

QUERIES["multimodal_audio_dups"] = multimodal_audio_dups
ORACLES["multimodal_audio_dups"] = MULTIMODAL_AUDIO_SQL


# ===========================================================================
# round-6: video fingerprint dedup (operators/video.py) — third leg of the
# multimodal dedup trio, same independent-derivation design: planted Y4M
# clips whose luma pixels follow a closed-form (doc_id, frame, y, x)
# formula; Spark runs the REAL path (synth frames → Y4M encode → binary →
# stdlib Y4M demux → integer temporal-envelope hash → banded Hamming
# join); the oracle recomputes per-frame luma sums with exact BIGINT
# arithmetic from the same formula.  doc_id < 256, 65 frames of 16×8
# luma → the oracle materializes ~2.1M pixel rows.
# ===========================================================================

VIDEO_DOC_CAP = 256
VIDEO_MAX_HAMMING = 4
_VIDEO_W, _VIDEO_H, _VIDEO_FRAMES = 16, 8, 65


def _video_planted_frames(i: int):
    """65 16×8 mono frames for doc ``i``: group (i//8) pseudo-random
    temporal envelope + a +40 half-row boost in one member-specific
    frame — flips ≤2 envelope bits vs the group base."""
    import numpy as np

    g, m = i // 8, i % 8
    f = np.arange(_VIDEO_FRAMES)[:, None, None]
    y = np.arange(_VIDEO_H)[None, :, None]
    x = np.arange(_VIDEO_W)[None, None, :]
    lum = (x * 7 + y * 11 + f * (5 + g % 5) + (f * f) % 97 + 29 * g) % 200
    if m > 0:
        lum = lum + 40 * ((f == m * 8) & (x < 8))
    return [lum[k].astype(np.uint8) for k in range(_VIDEO_FRAMES)]


def multimodal_video_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs over planted Y4M blobs — real encoder, real
    demux, exact-integer temporal hash, real banded Hamming join
    (operators/video.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_datafusion_spark.operators.imaging import encode_y4m
    from qdrant_datafusion_spark.operators.video import video_temporal_dups

    _make_y4m = pandas_udf(
        lambda ids: pd.Series(
            [encode_y4m(_video_planted_frames(int(i))) for i in ids]
        ),
        "binary",
    )
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < VIDEO_DOC_CAP)
        .select("doc_id")
    )
    # see multimodal_phash_dups (parts: ~32 rows/task of Y4M encode)
    docs = fan_out(docs, "doc_id", parts=max(4, VIDEO_DOC_CAP // 32))
    clips = docs.select(
        F.col("doc_id").alias("id"), _make_y4m("doc_id").alias("media")
    )
    pairs = video_temporal_dups(
        clips, "media", "id", max_hamming=VIDEO_MAX_HAMMING
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _video_pairs_sql(cap: int) -> str:
    """Exact-BIGINT temporal-envelope pair oracle, cap-parametric."""
    return f"""
WITH vids AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
fr AS (SELECT unnest(generate_series(0, {_VIDEO_FRAMES - 1})) AS f),
yy AS (SELECT unnest(generate_series(0, {_VIDEO_H - 1})) AS y),
xx AS (SELECT unnest(generate_series(0, {_VIDEO_W - 1})) AS x),
px AS (
  SELECT id, f,
         (x * 7 + y * 11 + f * (5 + g % 5) + (f * f) % 97 + 29 * g) % 200
         + CASE WHEN m > 0 AND f = m * 8 AND x < 8 THEN 40 ELSE 0 END AS l
  FROM vids, fr, yy, xx
),
en AS (SELECT id, f, sum(l::BIGINT) AS s FROM px GROUP BY 1, 2),
bits AS (
  SELECT a.id, a.f AS k, CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.id = b.id AND b.f = a.f + 1
  WHERE a.f < 64
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {VIDEO_MAX_HAMMING}
"""


MULTIMODAL_VIDEO_SQL = _video_pairs_sql(VIDEO_DOC_CAP)

QUERIES["multimodal_video_dups"] = multimodal_video_dups
ORACLES["multimodal_video_dups"] = MULTIMODAL_VIDEO_SQL


# ===========================================================================
# round-7: cross-modal near-dup composition — the shape a real multimodal
# pipeline actually runs: ONE mixed media table (image + audio + video
# columns on the same rows), each modality deduped with its own
# fingerprint family, survivors = rows no modality marks as a duplicate.
# Duplicate rule is deterministic keep-lowest-id: a row is a dup in a
# modality iff it appears as the LARGER id of any near-dup pair there.
# The oracle composes the three cap-parametric pair oracles above at the
# shared doc cap via nested-WITH subqueries — independent derivations for
# all three fingerprints meeting in one combined result.
# ===========================================================================

CROSS_DOC_CAP = 256  # min of the three modality caps — video's oracle cost


def multimodal_cross_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-modal dedup verdicts over one mixed media table:
    (doc_id, dup_image, dup_audio, dup_video, survivor).  Real codec
    paths for all three modalities (operators/phash.py, audio.py,
    video.py) over columns of the SAME DataFrame — the fingerprint passes
    are independent narrow maps on their columns, the three banded
    Hamming joins run off one scan, and the flag joins are dup-id-sized."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_datafusion_spark.operators.audio import (
        audio_energy_dups,
        encode_wav,
    )
    from qdrant_datafusion_spark.operators.imaging import (
        encode_png,
        encode_y4m,
    )
    from qdrant_datafusion_spark.operators.phash import phash_image_dups
    from qdrant_datafusion_spark.operators.video import video_temporal_dups

    _png = pandas_udf(
        lambda ids: pd.Series(
            [encode_png(_phash_planted_pixels(int(i))) for i in ids]
        ),
        "binary",
    )
    _wav = pandas_udf(
        lambda ids: pd.Series(
            [encode_wav(_audio_planted_samples(int(i))) for i in ids]
        ),
        "binary",
    )
    _y4m = pandas_udf(
        lambda ids: pd.Series(
            [encode_y4m(_video_planted_frames(int(i))) for i in ids]
        ),
        "binary",
    )
    mixed = (
        fan_out(  # see multimodal_phash_dups: spread before the encodes;
            # parts: ~32 rows/task — three chained codec UDFs per task
            # make tiny batches pay 3 worker roundtrips each (measured
            # 3-4x slower at full 32-way spread of 256 rows)
            _t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < CROSS_DOC_CAP)
            .select("doc_id"),
            "doc_id",
            parts=max(4, CROSS_DOC_CAP // 32),
        )
        .select(
            F.col("doc_id").alias("id"),
            _png("doc_id").alias("image"),
            _wav("doc_id").alias("audio"),
            _y4m("doc_id").alias("video"),
        )
        .localCheckpoint(eager=False)  # one synth+encode pass, three readers
    )
    dup_sets = {
        "dup_image": phash_image_dups(
            mixed.select("id", "image"), "image", "id",
            max_hamming=PHASH_MAX_HAMMING,
        ),
        "dup_audio": audio_energy_dups(
            mixed.select("id", "audio"), "audio", "id",
            max_hamming=AUDIO_MAX_HAMMING, frame_len=AUDIO_FRAME,
        ),
        "dup_video": video_temporal_dups(
            mixed.select("id", "video"), "video", "id",
            max_hamming=VIDEO_MAX_HAMMING,
        ),
    }
    out = mixed.select("id")
    for flag, pairs in dup_sets.items():
        dups = pairs.select(F.col("id_b").alias("id")).distinct()
        out = out.join(
            F.broadcast(dups.withColumn("_d", F.lit(True))), "id", "left"
        ).select(
            *[c for c in out.columns],
            F.coalesce("_d", F.lit(False)).alias(flag),
        )
    return out.select(
        F.col("id").alias("doc_id"),
        "dup_image",
        "dup_audio",
        "dup_video",
        (
            ~(F.col("dup_image") | F.col("dup_audio") | F.col("dup_video"))
        ).alias("survivor"),
    )


MULTIMODAL_CROSS_SQL = f"""
WITH pi AS MATERIALIZED ({_phash_pairs_sql(CROSS_DOC_CAP)}),
pa AS MATERIALIZED ({_audio_pairs_sql(CROSS_DOC_CAP)}),
pv AS MATERIALIZED ({_video_pairs_sql(CROSS_DOC_CAP)}),
ids AS (SELECT doc_id FROM documents WHERE doc_id < {CROSS_DOC_CAP})
SELECT i.doc_id,
       i.doc_id IN (SELECT id_b FROM pi) AS dup_image,
       i.doc_id IN (SELECT id_b FROM pa) AS dup_audio,
       i.doc_id IN (SELECT id_b FROM pv) AS dup_video,
       NOT (i.doc_id IN (SELECT id_b FROM pi)
            OR i.doc_id IN (SELECT id_b FROM pa)
            OR i.doc_id IN (SELECT id_b FROM pv)) AS survivor
FROM ids i
"""

QUERIES["multimodal_cross_dups"] = multimodal_cross_dups
ORACLES["multimodal_cross_dups"] = MULTIMODAL_CROSS_SQL


# ===========================================================================
# round-6: distributed BPE tokenizer training (operators/tokenizer.py) —
# the merge loop is graded by an unrolled-CTE DuckDB oracle, one
# (pair-count → argmax → greedy replace) stage per merge, the pagerank
# recipe applied to strings: integer counts, (count DESC, left, right)
# tie-break, and boundary-anchored replace() whose left-to-right
# non-overlapping semantics are identical in Spark, DuckDB, and Python.
# ===========================================================================

BPE_N_MERGES = 12


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The trained BPE merge table (bounded driver state: BPE_N_MERGES
    rows) shared by text_bpe_vocab / text_bpe_encode / pipeline_pack_bpe
    — all three train the IDENTICAL model (same corpus, same params), so
    it is trained once per (session, sf_dir) and reused: the
    train-once/apply-many production pattern (a fresh session always
    retrains from the parquet inputs)."""
    from qdrant_datafusion_spark.operators.tokenizer import train_bpe

    docs = _t(spark, sf_dir, "documents")
    return shared_build(
        spark,
        ("bpe_merges", sf_dir),
        lambda pin: train_bpe(docs, "text", n_merges=BPE_N_MERGES),
    )


def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE merge rules over documents.text — see
    operators/tokenizer.py for the scale argument (corpus collapses to
    the distinct-word table; each merge = one groupBy + one TakeOrdered
    + one narrow map).  Output: the learned merge table, fully
    deterministic."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


#: DuckDB fragments shared by every BPE oracle: the two-byte symbol
#: boundary and the trainer's input normalization (markers stripped,
#: explicit ASCII whitespace class — RE2's \s is [\t\n\f\r ] (no \x0b)
#: while Spark's is Java's [ \t\n\x0B\f\r], so only a shared literal
#: class makes the engines tokenize identically; mirrors
#: operators/tokenizer._word_table exactly)
_BPE_B = "chr(31)||chr(31)"
_BPE_CLEAN = "replace(replace(lower(text), chr(31), ''), chr(30), '')"


def _bpe_learn_parts(n_merges: int) -> list[str]:
    """CTE parts learning the merge table: ``wt`` = distinct words with
    frequencies, w{k} = symbol table after k merges (cross join with the
    1-row argmax m{k} applies the merge), p{k} = pair counts from
    w{k-1}.  If pairs run out at stage k, m{k} is empty, so w{k} (cross
    join) empties and every later stage yields no row — exactly
    mirroring the operator's early break."""
    b = _BPE_B
    parts = [
        f"""wt AS MATERIALIZED (
  SELECT tok AS word, count(*)::BIGINT AS n
  FROM (SELECT unnest(string_split_regex({_BPE_CLEAN},
                      '[ \\t\\n\\r\\f\\x0b]+')) AS tok
        FROM documents)
  WHERE len(tok) > 0
  GROUP BY 1
)""",
        f"""w0 AS MATERIALIZED (
  SELECT {b} || array_to_string(string_split(word || chr(30), ''), {b})
         || {b} AS w, n
  FROM wt
)""",
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS (
  SELECT l[i] AS a, l[i + 1] AS b, sum(n)::BIGINT AS cnt
  FROM (SELECT l, n, unnest(generate_series(1, len(l) - 1)) AS i
        FROM (SELECT string_split(trim(w, chr(31)), {b}) AS l, n
              FROM w{k - 1}))
  GROUP BY 1, 2
),
m{k} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
)"""
        )
        if k < n_merges:
            parts.append(
                f"""w{k} AS MATERIALIZED (
  SELECT replace(w, chr(31)||a||{b}||b||chr(31),
                 chr(31)||a||b||chr(31)) AS w, n
  FROM w{k - 1}, m{k}
)"""
            )
    return parts


def _bpe_oracle_sql(n_merges: int) -> str:
    """The learned merge table itself — see :func:`_bpe_learn_parts`."""
    union = "\nUNION ALL ".join(
        f'SELECT {k}::INT AS "rank", a AS "left", b AS "right",'
        f" cnt AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_learn_parts(n_merges)) + "\n" + union


TEXT_BPE_VOCAB_SQL = _bpe_oracle_sql(BPE_N_MERGES)

QUERIES["text_bpe_vocab"] = text_bpe_vocab
ORACLES["text_bpe_vocab"] = TEXT_BPE_VOCAB_SQL


# ===========================================================================
# text_unigram_vocab — unigram-LM (SentencePiece-style) tokenizer training,
# the hard-EM sibling of text_bpe_vocab (operators/tokenizer.train_unigram).
# The oracle unrolls BOTH loops: the EM iterations (like BPE's merge
# stages) AND the per-word Viterbi DP over character positions 1..P —
# b{t}_{p} = best (cost, n_pieces, seg) prefix segmentation of each word's
# first p chars, a k-way UNION over the last piece's length joined against
# the current integer cost table.  All arithmetic is BIGINT; the only
# doubles are inside Q(x) = floor(ln(x)*1e6 + 0.5), which _qlog guards
# with a cross-engine boundary assertion on the Spark side.
# ===========================================================================

#: oracle DP position cap — the gate asserts max word length <= this
UNIGRAM_MAX_WORD = 12
UNIGRAM_PIECE_LEN = 4
UNIGRAM_SEED_MULTI = 60
UNIGRAM_KEEP_MULTI = 40
UNIGRAM_ITERS = 3
UNIGRAM_TOP_K = 40


def _unigram_full_vocab(spark: SparkSession, sf_dir: str) -> list:
    """The FULL trained unigram vocabulary (top_k=10_000 — every piece
    the trainer retains) over documents.text, shared by
    text_unigram_vocab and text_unigram_encode.  ``top_k`` in
    ``train_unigram`` is a pure final prefix cut of the
    (count DESC, piece ASC)-ordered list, so the vocab gate's
    ``UNIGRAM_TOP_K`` view is exactly ``full[:UNIGRAM_TOP_K]`` (ranks
    are the 1-based list positions on both paths).  Trained once per
    (session, sf_dir) — bounded driver state, the same
    train-once/apply-many discipline as :func:`_bpe_merges`.  The
    shared ``maxlen`` oracle-precondition assert runs with the build."""
    return shared_build(
        spark, ("unigram_vocab", sf_dir), lambda pin: _train_unigram(spark, sf_dir)
    )


def _train_unigram(spark: SparkSession, sf_dir: str) -> list:
    from qdrant_datafusion_spark.operators.tokenizer import (
        _words,
        train_unigram,
    )

    docs = _t(spark, sf_dir, "documents")
    maxlen = (
        _words(docs, "text")
        .agg(
            # coalesce: F.max is NULL on an empty/whitespace-only corpus,
            # which must read as "no long words", not a TypeError below
            F.coalesce(F.max(F.length("_w")), F.lit(0)).alias("maxlen")
        )
        .collect()[0]["maxlen"]
    )
    if maxlen > UNIGRAM_MAX_WORD:
        raise AssertionError(
            f"text_unigram precondition violated: maxlen={maxlen} "
            f"(cap {UNIGRAM_MAX_WORD}) — regenerate the oracle with a "
            "larger position cap"
        )
    return train_unigram(
        docs,
        "text",
        max_piece_len=UNIGRAM_PIECE_LEN,
        seed_multi=UNIGRAM_SEED_MULTI,
        keep_multi=UNIGRAM_KEEP_MULTI,
        n_iters=UNIGRAM_ITERS,
        top_k=10_000,  # full final vocabulary — encode needs the chars
    )


def text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a unigram-LM piece vocabulary over documents.text — see
    operators/tokenizer.py for the scale argument (corpus collapses to
    the distinct-word table; each EM iteration = one Arrow-batched
    Viterbi map + one groupBy re-count).  Asserts the one structural
    oracle precondition on the actual input: word length <=
    UNIGRAM_MAX_WORD (the unrolled DP's position cap).  Multibyte words
    are fine — every engine in the loop (Spark UTF8String binary order,
    DuckDB binary UTF-8 collation, Python codepoint comparison) sorts
    valid UTF-8 identically because UTF-8 byte order preserves codepoint
    order, and len/substr are codepoint-based on all three; the
    ``text_unigram_vocab_mb`` gate proves it on an injected-multibyte
    corpus."""
    vocab = _unigram_full_vocab(spark, sf_dir)[:UNIGRAM_TOP_K]
    return spark.createDataFrame(vocab, "rank int, piece string, cnt long")


def _unigram_dp_parts(
    tag: str, cost_cte: str, max_word: int, piece_len: int
) -> tuple[list[str], str]:
    """Unrolled Viterbi DP over the distinct-word table ``w`` under the
    piece costs of ``cost_cte``: ``b{tag}_p`` is each word's unique best
    (cost ASC, piece count ASC, segmentation ASC) split of its first
    ``p`` characters.  Returns the CTE parts plus the UNION ALL yielding
    every word's full segmentation ``(word, n, seg)``."""
    parts = [
        f"b{tag}_0 AS (SELECT word, n, 0::BIGINT AS cost, 0 AS np,"
        f" '' AS seg FROM w)"
    ]
    for p in range(1, max_word + 1):
        branches = []
        for k in range(1, min(piece_len, p) + 1):
            branches.append(
                f"""      SELECT b.word, b.n, b.cost + c.cost AS cost,
             b.np + 1 AS np, b.seg || chr(31) || c.piece AS seg
      FROM b{tag}_{p - k} b JOIN {cost_cte} c
        ON c.piece = substr(b.word, {p - k + 1}, {k})
      WHERE len(b.word) >= {p}"""
            )
        union = "\n      UNION ALL\n".join(branches)
        parts.append(
            f"""b{tag}_{p} AS MATERIALIZED (
  SELECT word, n, cost, np, seg FROM (
    SELECT word, n, cost, np, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY cost, np, seg) AS rn
    FROM (
{union}
    )) WHERE rn = 1
)"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT word, n, seg FROM b{tag}_{p} WHERE len(word) = {p}"
        for p in range(1, max_word + 1)
    )
    return parts, finals


def _unigram_oracle_sql(
    max_word: int = UNIGRAM_MAX_WORD,
    piece_len: int = UNIGRAM_PIECE_LEN,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    keep_multi: int = UNIGRAM_KEEP_MULTI,
    n_iters: int = UNIGRAM_ITERS,
    top_k: int = UNIGRAM_TOP_K,
    source: str = "documents",
    extra_ctes: tuple[str, ...] = (),
) -> str:
    clean = _BPE_CLEAN
    q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
    parts = [
        *extra_ctes,
        f"""w AS MATERIALIZED (
  SELECT tok AS word, count(*)::BIGINT AS n
  FROM (SELECT unnest(string_split_regex({clean},
               '[ \\t\\n\\r\\f\\x0b]+')) AS tok FROM {source})
  WHERE len(tok) > 0
  GROUP BY 1
)""",
        f"""seed AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt FROM (
    SELECT substr(word, s, k) AS piece, n FROM (
      SELECT word, n, s,
             unnest(generate_series(1, least({piece_len},
                    len(word) - s + 1))) AS k
      FROM (SELECT word, n,
                   unnest(generate_series(1, len(word))) AS s FROM w)))
  GROUP BY 1
)""",
        """chars AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE len(piece) = 1
)""",
        f"""v0 AS MATERIALIZED (
  SELECT piece, cnt FROM chars
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM seed WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {seed_multi})
)""",
    ]
    for t in range(1, n_iters + 1):
        v_prev = f"v{t - 1}"
        qt = q.format(x="sum(cnt)")
        qc = q.format(x="cnt")
        parts.append(
            f"""c{t} AS MATERIALIZED (
  SELECT piece, (SELECT {qt} FROM {v_prev}) - {qc} AS cost
  FROM {v_prev}
)"""
        )
        dp_parts, finals = _unigram_dp_parts(str(t), f"c{t}", max_word, piece_len)
        parts.extend(dp_parts)
        parts.append(
            f"""m{t} AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt FROM (
    SELECT unnest(string_split(substr(seg, 2), chr(31))) AS piece, n
    FROM ({finals})
  ) GROUP BY 1
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT a.piece, greatest(coalesce(m.cnt, 0), 1)::BIGINT AS cnt
  FROM chars a LEFT JOIN m{t} m ON a.piece = m.piece
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM m{t} WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {keep_multi})
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT "rank", piece, cnt FROM (
  SELECT row_number() OVER (ORDER BY cnt DESC, piece)::INT AS "rank",
         piece, cnt::BIGINT AS cnt
  FROM v{n_iters}
) WHERE "rank" <= {top_k}"""
    )


TEXT_UNIGRAM_VOCAB_SQL = _unigram_oracle_sql()

QUERIES["text_unigram_vocab"] = text_unigram_vocab
ORACLES["text_unigram_vocab"] = TEXT_UNIGRAM_VOCAB_SQL


# --- multibyte variant: the same training run over a corpus with
# injected non-ASCII words, proving the engine/oracle pair needs no
# ASCII restriction (UTF-8 byte order == codepoint order on every
# engine; len/substr are codepoint-based on all three) -------------------

#: per-doc multibyte suffix, rotated by doc_id so different multibyte
#: words land in different documents (all words <= 9 codepoints, already
#: lowercase so the lower() normalization is a no-op on them)
_UNIGRAM_MB_SUFFIXES = (
    "naïve",
    "fußgänger 文書処理",
    "héllo über",
    "señor niño",
)


def text_unigram_vocab_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_unigram_vocab over a multibyte-augmented corpus: each
    document's text gains a rotating non-ASCII suffix (umlauts, CJK,
    combining-free accents), then the identical hard-EM training runs.
    Green here certifies the tokenizer family handles multibyte corpora
    with no precondition beyond the DP position cap."""
    from qdrant_datafusion_spark.operators.tokenizer import train_unigram

    docs = _t(spark, sf_dir, "documents")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _UNIGRAM_MB_SUFFIXES]),
        (F.col("doc_id") % len(_UNIGRAM_MB_SUFFIXES) + 1).cast("int"),
    )
    aug = docs.withColumn("text", F.concat_ws(" ", F.col("text"), sfx))
    vocab = train_unigram(
        aug,
        "text",
        max_piece_len=UNIGRAM_PIECE_LEN,
        seed_multi=UNIGRAM_SEED_MULTI,
        keep_multi=UNIGRAM_KEEP_MULTI,
        n_iters=UNIGRAM_ITERS,
        top_k=UNIGRAM_TOP_K,
    )
    return spark.createDataFrame(vocab, "rank int, piece string, cnt long")


def _unigram_mb_oracle_sql() -> str:
    sfx_list = ", ".join(f"'{s}'" for s in _UNIGRAM_MB_SUFFIXES)
    src = f"""mb_src AS MATERIALIZED (
  SELECT doc_id,
         concat_ws(' ', text,
           ([{sfx_list}])[(doc_id % {len(_UNIGRAM_MB_SUFFIXES)}) + 1]
         ) AS text
  FROM documents
)"""
    return _unigram_oracle_sql(source="mb_src", extra_ctes=(src,))


TEXT_UNIGRAM_VOCAB_MB_SQL = _unigram_mb_oracle_sql()

QUERIES["text_unigram_vocab_mb"] = text_unigram_vocab_mb
ORACLES["text_unigram_vocab_mb"] = TEXT_UNIGRAM_VOCAB_MB_SQL


# --- tokenizer APPLY: encode the corpus with the learned models (the
# train→apply→pack completion the round-7 verdict asked for) -------------

#: the per-document word sequence with positions, normalized exactly like
#: the trainers (markers stripped, shared whitespace class)
_DOC_WORDS_CTE = f"""dw AS MATERIALIZED (
  SELECT doc_id, ws[i] AS word, i AS wpos
  FROM (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
        FROM (SELECT doc_id,
                     list_filter(string_split_regex({_BPE_CLEAN},
                                 '[ \\t\\n\\r\\f\\x0b]+'),
                                 x -> x <> '') AS ws
              FROM documents))
)"""

#: reassemble per-word piece lists (CTE ``enc(word, pieces)``) into the
#: exploded per-document token stream with ids from ``vid(piece, id)``
_TOKEN_STREAM_SQL = """
SELECT doc_id, pos, t.piece AS piece, coalesce(v.id, 0)::INT AS token_id
FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY wpos, j)::INT AS pos,
         pieces[j] AS piece
  FROM (SELECT doc_id, wpos,
               unnest(generate_series(1, len(pieces))) AS j, pieces
        FROM dw JOIN enc USING (word))
) t LEFT JOIN vid v ON t.piece = v.piece"""


def _bpe_encode_parts(n_merges: int) -> list[str]:
    """CTE parts applying the learned merges to the distinct-word table:
    e{k} = symbol strings after replaying merge k (LEFT JOIN ON TRUE, so
    an empty m{k} — pairs ran out — leaves the strings unchanged instead
    of emptying the table like the learning stages deliberately do),
    ``enc`` = each word's final piece list, ``vid`` = the piece→id table
    (id 0 <unk>, 1..C chars in byte order, C+rank per merge, min id on
    piece collisions — mirrors tokenizer.bpe_vocab_ids)."""
    b = _BPE_B
    parts = [
        f"""e0 AS (
  SELECT word,
         {b} || array_to_string(string_split(word || chr(30), ''), {b})
         || {b} AS s
  FROM wt
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""e{k} AS MATERIALIZED (
  SELECT word,
         CASE WHEN m.a IS NULL THEN s
              ELSE replace(s, chr(31)||m.a||{b}||m.b||chr(31),
                           chr(31)||m.a||m.b||chr(31)) END AS s
  FROM e{k - 1} LEFT JOIN m{k} m ON TRUE
)"""
        )
    mall = "\n    UNION ALL ".join(
        f"SELECT {k} AS rk, a, b FROM m{k}" for k in range(1, n_merges + 1)
    )
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, string_split(trim(s, chr(31)), {b}) AS pieces
  FROM e{n_merges}
)""",
    )
    parts.append(
        """cid AS MATERIALIZED (
  SELECT piece, row_number() OVER (ORDER BY piece)::BIGINT AS id
  FROM (SELECT DISTINCT c AS piece
        FROM (SELECT unnest(string_split(word || chr(30), '')) AS c
              FROM wt))
)"""
    )
    parts.append(
        f"""vid AS MATERIALIZED (
  SELECT piece, min(id)::INT AS id FROM (
    SELECT piece, id FROM cid
    UNION ALL
    SELECT a || b AS piece, (SELECT count(*) FROM cid) + rk AS id
    FROM ({mall})
  ) GROUP BY piece
)"""
    )
    return parts


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY, BPE half: train the merge table on documents.text
    (same params as text_bpe_vocab), then encode the whole corpus with it
    — each word replayed through the merges as a chain of native
    ``replace`` calls (zero Python, zero shuffles; operators/tokenizer.
    bpe_encode), exploded to the per-document token stream.  Output:
    (doc_id, pos, piece, token_id) — the full train→apply roundtrip under
    a full value oracle that re-learns AND re-applies the merges in SQL.
    """
    from qdrant_datafusion_spark.operators.tokenizer import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.posexplode(F.arrays_zip("pieces", "token_ids")).alias("_j", "_z"),
    ).select(
        "doc_id",
        (F.col("_j") + 1).cast("int").alias("pos"),
        F.col("_z.pieces").alias("piece"),
        F.col("_z.token_ids").cast("int").alias("token_id"),
    )


TEXT_BPE_ENCODE_SQL = (
    "WITH "
    + ",\n".join(
        _bpe_learn_parts(BPE_N_MERGES)
        + _bpe_encode_parts(BPE_N_MERGES)
        + [_DOC_WORDS_CTE]
    )
    + _TOKEN_STREAM_SQL
)

QUERIES["text_bpe_encode"] = text_bpe_encode
ORACLES["text_bpe_encode"] = TEXT_BPE_ENCODE_SQL


def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY, unigram half: train the piece vocabulary on
    documents.text (same params as text_unigram_vocab but the FULL final
    vocabulary — the mandatory single-char pieces keep every word
    segmentable), then Viterbi-encode the corpus under the final integer
    costs (one Arrow-batched map, per-batch word memoization;
    operators/tokenizer.unigram_encode).  token_id = the piece's 1-based
    vocabulary rank.  Asserts the same structural oracle precondition as
    the vocab gate (word-length cap; multibyte is fine, see
    text_unigram_vocab)."""
    from qdrant_datafusion_spark.operators.tokenizer import unigram_encode

    docs = _t(spark, sf_dir, "documents")
    vocab = _unigram_full_vocab(spark, sf_dir)
    enc = unigram_encode(docs, vocab, max_piece_len=UNIGRAM_PIECE_LEN)
    return enc.select(
        "doc_id",
        F.posexplode(F.arrays_zip("pieces", "token_ids")).alias("_j", "_z"),
    ).select(
        "doc_id",
        (F.col("_j") + 1).cast("int").alias("pos"),
        F.col("_z.pieces").alias("piece"),
        F.col("_z.token_ids").cast("int").alias("token_id"),
    )


def _unigram_encode_oracle_sql(
    max_word: int = UNIGRAM_MAX_WORD,
    piece_len: int = UNIGRAM_PIECE_LEN,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    keep_multi: int = UNIGRAM_KEEP_MULTI,
    n_iters: int = UNIGRAM_ITERS,
) -> str:
    """Re-learns the full vocabulary (the _unigram_oracle_sql CTEs), then
    one more Viterbi pass under the FINAL vocabulary's costs segments the
    distinct words, reassembled into the per-document token stream; ids
    are the (cnt DESC, piece ASC) vocabulary ranks."""
    vocab_sql = _unigram_oracle_sql(
        max_word, piece_len, seed_multi, keep_multi, n_iters, top_k=1
    )
    # keep only the CTE chain (drop the final top-k SELECT)
    vocab_parts = vocab_sql[len("WITH ") : vocab_sql.rindex("\nSELECT")]
    q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
    vN = f"v{n_iters}"
    parts = [
        vocab_parts,
        f"""cE AS MATERIALIZED (
  SELECT piece, (SELECT {q.format(x="sum(cnt)")} FROM {vN})
                - {q.format(x="cnt")} AS cost
  FROM {vN}
)""",
    ]
    dp_parts, finals = _unigram_dp_parts("e", "cE", max_word, piece_len)
    parts.extend(dp_parts)
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, string_split(substr(seg, 2), chr(31)) AS pieces
  FROM ({finals})
)"""
    )
    parts.append(
        f"""vid AS MATERIALIZED (
  SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece)::INT AS id
  FROM {vN}
)"""
    )
    parts.append(_DOC_WORDS_CTE)
    return "WITH " + ",\n".join(parts) + _TOKEN_STREAM_SQL


TEXT_UNIGRAM_ENCODE_SQL = _unigram_encode_oracle_sql()

QUERIES["text_unigram_encode"] = text_unigram_encode
ORACLES["text_unigram_encode"] = TEXT_UNIGRAM_ENCODE_SQL


def pipeline_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences over REAL tokenizer output: the greedy first-fit
    packing of pipeline_pack_sequences, but sized by each document's
    trained-BPE token count (train_bpe → bpe_encode → tokens_col) instead
    of the whitespace heuristic — the train→apply→pack pipeline
    end-to-end.  Same scale shape as both parents: the encode is a
    zero-shuffle native projection feeding pack's one bucket-keyed
    window."""
    from qdrant_datafusion_spark.operators.pipeline import pack_sequences
    from qdrant_datafusion_spark.operators.tokenizer import bpe_encode

    docs = _t(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges).select("doc_id", "n_tokens")
    return pack_sequences(
        enc, "doc_id", "text", budget=256, num_buckets=4,
        tokens_col="n_tokens",
    )


PIPELINE_PACK_BPE_SQL = (
    "WITH RECURSIVE "
    + ",\n".join(
        _bpe_learn_parts(BPE_N_MERGES)
        + _bpe_encode_parts(BPE_N_MERGES)
        + [_DOC_WORDS_CTE]
    )
    + """,
sz AS (
  SELECT d.doc_id, (d.doc_id % 4)::INTEGER AS bucket,
         coalesce(s.nt, 0)::BIGINT AS n_tokens
  FROM documents d LEFT JOIN (
    SELECT doc_id, sum(len(pieces))::BIGINT AS nt
    FROM dw JOIN enc USING (word) GROUP BY doc_id
  ) s ON d.doc_id = s.doc_id
),
ord AS (
  SELECT doc_id, bucket, n_tokens,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
  FROM sz
),
packed AS (
  SELECT doc_id, bucket, n_tokens, rn, 0 AS pack_id, n_tokens AS fill
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens > 256 THEN p.pack_id + 1
              ELSE p.pack_id END,
         CASE WHEN p.fill + o.n_tokens > 256 THEN o.n_tokens
              ELSE p.fill + o.n_tokens END
  FROM ord o JOIN packed p ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, bucket, pack_id::INTEGER AS pack_id, n_tokens FROM packed
"""
)

QUERIES["pipeline_pack_bpe"] = pipeline_pack_bpe
ORACLES["pipeline_pack_bpe"] = PIPELINE_PACK_BPE_SQL


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
    import shutil
    import tempfile

    from qdrant_datafusion_spark.streaming.ingest import streaming_topk

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    tmp = tempfile.mkdtemp(prefix="sg_stream_topk_")
    src = os.path.join(tmp, "src")
    ev.select("event_id", "event_type", "value").repartition(2).write.parquet(
        src
    )
    try:
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        upd = streaming_topk(
            stream, key_col="event_type", id_col="event_id",
            score_col="value", k=5,
        )
        sink = _run_stream_to_table(upd, spark, "topk", "update")
        w = Window.partitionBy("event_type").orderBy(
            F.desc("value"), F.asc("event_id")
        )
        out = (
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
        out.collect()  # drain before the finally deletes the source
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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


QUERIES["streaming_hourly_counts"] = streaming_hourly_counts
ORACLES["streaming_hourly_counts"] = Q_EVENTS_HOURLY_SQL
QUERIES["streaming_dedup_survivors"] = streaming_dedup_survivors
ORACLES["streaming_dedup_survivors"] = STREAMING_DEDUP_SQL
QUERIES["streaming_dedup_bounded"] = streaming_dedup_bounded
ORACLES["streaming_dedup_bounded"] = STREAMING_DEDUP_SQL
QUERIES["streaming_funnel_conversion"] = streaming_funnel_conversion
ORACLES["streaming_funnel_conversion"] = Q_EVENTS_FUNNEL_SQL
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
    from qdrant_datafusion_spark.streaming.ingest import sessionized_counts

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


def streaming_collection_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom streaming Python DataSource
    (sources.CollectionStreamReader) under a full value oracle: documents
    are laid out as a 4-fragment collection dir and streamed through
    ``format("qdrant_collection")`` with maxFilesPerTrigger-free
    availableNow (the source's offset IS the consumed fragment list), so
    the gate proves the offset/replay plumbing delivers EXACTLY the
    table: per-doc content digest equality against a direct scan."""
    import shutil
    import tempfile

    from qdrant_datafusion_spark.sources.collection_source import (
        register_collection_source,
    )

    register_collection_source(spark)
    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="sg_coll_stream_")
    coll = os.path.join(tmp, "coll")
    docs.repartition(4).write.parquet(coll)
    try:
        stream = (
            spark.readStream.format("qdrant_collection")
            .option("path", coll)
            .load()
        )
        sink = _run_stream_to_table(stream, spark, "collsrc", "append")
        out = sink.select(
            "doc_id",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.md5(F.col("text")).alias("text_md5"),
        )
        out.collect()  # drain before the finally deletes the source
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_COLLECTION_SQL = """
SELECT doc_id, lang, source, n_chars::BIGINT AS n_chars,
       md5(text) AS text_md5
FROM documents
"""


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
    import glob as _glob
    import shutil
    import time as _time

    src = os.path.join(tmp, "src")
    os.makedirs(src)
    base = _time.time() - 3600
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
        (part_file,) = _glob.glob(os.path.join(part_dir, "part-*.parquet"))
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
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="sg_ingest_")
    try:
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
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _survivor_batches(id_col: str):
    """Readback of a store-join ingest's output: ``(id, batch_id)``."""
    return lambda out: out.select(
        id_col, F.col("_batch_id").cast("long").alias("batch_id")
    )


def streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_near_dup_ingest end-to-end: documents stream in forced
    micro-batches through the MinHash-LSH ingest filter (in-batch
    collapse + signature-store check, foreachBatch with idempotent
    _batch_id-partitioned sinks); survivors are graded against the
    unrolled sequential-greedy oracle."""
    from qdrant_datafusion_spark.streaming.ingest import (
        stream_near_dup_ingest,
    )

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

QUERIES["streaming_near_dup_ingest"] = streaming_near_dup_ingest
ORACLES["streaming_near_dup_ingest"] = STREAMING_NEAR_DUP_INGEST_SQL


def streaming_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_semantic_ingest end-to-end: embeddings stream in forced
    micro-batches through the hyperplane-LSH semantic filter (corpus-
    scaled pool slice — same planes as dedup_embedding_lsh ⇒
    deterministic buckets ⇒ full value oracle)."""
    from qdrant_datafusion_spark.streaming.ingest import (
        stream_semantic_ingest,
    )

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

QUERIES["streaming_semantic_ingest"] = streaming_semantic_ingest
ORACLES["streaming_semantic_ingest"] = STREAMING_SEMANTIC_INGEST_SQL


QUERIES["streaming_topk_values"] = streaming_topk_values
ORACLES["streaming_topk_values"] = STREAMING_TOPK_SQL
QUERIES["streaming_sessions"] = streaming_sessions
ORACLES["streaming_sessions"] = Q_EVENTS_SESSIONS_SQL
QUERIES["streaming_collection_source"] = streaming_collection_source
ORACLES["streaming_collection_source"] = STREAMING_COLLECTION_SQL


def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): keep the 20% of the corpus
    most like the English slice, by hashed-n-gram (unigram+bigram, 8192
    md5 buckets) importance weights target-vs-raw, realized as Gumbel
    top-k weighted sampling without replacement.  The 100 TB shape: one
    shuffle to (doc, bucket) counts feeding both models and the scoring
    join, 8192-row broadcast models, md5-coin Gumbel, and the two-phase
    distributed rank for the keep threshold — no single-task sort, no
    second corpus pass for the target side."""
    from qdrant_datafusion_spark.operators.pipeline import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        is_target=F.col("lang") == "en",
        text_col="text",
        id_col="doc_id",
        m_buckets=8192,
        keep_num=1,
        keep_den=5,
        seed="dsir",
    )


#: mirrors dsir_select exactly: md5-prefix feature buckets, add-one
#: smoothed target/raw bucket models with each ln quantized once to
#: integer 1e-9 units (IEEE-identical double in), integer log-weight
#: sums, md5-coin Gumbel perturbation, and the exact rational keep
#: threshold pos*5 < total (= ceil(total/5) rows)
TEXT_DSIR_SELECT_SQL = """
WITH t AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tt AS (SELECT * FROM t WHERE len(toks) >= 1),
f AS (
  SELECT doc_id, tgt, u.f AS f
  FROM tt, unnest(list_concat(
    list_transform(toks, x -> 'u:' || x),
    CASE WHEN len(toks) >= 2 THEN
      list_transform(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)]),
                     p -> 'b:' || p[1] || ' ' || p[2])
    ELSE [] END)) AS u(f)
),
db AS (
  SELECT doc_id, tgt, ('0x' || substr(md5(f), 1, 8))::BIGINT % 8192 AS b,
         count(*)::BIGINT AS cnt
  FROM f GROUP BY ALL
),
raw AS (SELECT b, sum(cnt)::BIGINT AS c_r FROM db GROUP BY b),
tg AS (SELECT b, sum(cnt)::BIGINT AS c_t FROM db WHERE tgt GROUP BY b),
tot AS (SELECT (SELECT sum(cnt) FROM db)::BIGINT AS n_r,
               (SELECT coalesce(sum(cnt), 0) FROM db WHERE tgt)::BIGINT AS n_t),
model AS (
  SELECT raw.b,
         round(ln((coalesce(c_t, 0) + 1)::DOUBLE / (n_t + 8192)::DOUBLE)
               * 1e9)::BIGINT
       - round(ln((c_r + 1)::DOUBLE / (n_r + 8192)::DOUBLE)
               * 1e9)::BIGINT AS lr9
  FROM raw LEFT JOIN tg ON raw.b = tg.b CROSS JOIN tot
),
sc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_feats,
         sum(cnt::HUGEINT * lr9)::BIGINT AS log_w9
  FROM db JOIN model ON db.b = model.b GROUP BY doc_id
),
g AS (
  SELECT doc_id, n_feats, log_w9,
         (log_w9 + round(-ln(-ln(
            (('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 8))::BIGINT
             + 1) / 4294967297.0)) * 1e9)::BIGINT)::BIGINT AS score9
  FROM sc
),
r AS (
  SELECT doc_id, n_feats, log_w9, score9,
         row_number() OVER (ORDER BY score9 DESC, doc_id) - 1 AS pos,
         count(*) OVER () AS total
  FROM g
)
SELECT doc_id, n_feats, log_w9, score9, (pos + 1)::BIGINT AS sel_rank
FROM r WHERE pos * 5 < total
"""

QUERIES["text_dsir_select"] = text_dsir_select
ORACLES["text_dsir_select"] = TEXT_DSIR_SELECT_SQL


# ===========================================================================
# text_lang_id_ngram — char-n-gram Naive-Bayes language classification
# (operators/langid.py), the round-7 verdict's "real classifier" upgrade
# of the stopword-profile heuristic.  Trained on the labelled fixture
# corpus, applied as a zero-shuffle literal-map fold; the gate output is
# the full confusion matrix (true lang × predicted lang), value-exact
# because every weight is a _qlog fixed-point integer on both engines.
# ===========================================================================

LANGID_N = 3
LANGID_TOP_K = 200


def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the char-trigram profile model on documents(lang, text),
    classify every document, and emit the confusion matrix."""
    from qdrant_datafusion_spark.operators.langid import (
        lang_id_ngram,
        train_lang_ngram,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_lang_ngram(
        docs, "text", "lang", n=LANGID_N, top_k=LANGID_TOP_K
    )
    pred = lang_id_ngram(docs, model, "text")
    return (
        pred.where(F.col("lang").isNotNull())
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


_LANGID_Q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"

TEXT_LANG_ID_NGRAM_SQL = f"""
WITH nrm AS MATERIALIZED (
  SELECT doc_id, lang,
         regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g') AS t
  FROM documents WHERE lang IS NOT NULL
),
ng AS MATERIALIZED (
  SELECT doc_id, lang, substr(t, i, {LANGID_N}) AS g
  FROM (SELECT doc_id, lang, t,
               unnest(generate_series(1, len(t) - {LANGID_N - 1})) AS i
        FROM nrm WHERE len(t) >= {LANGID_N})
),
feat AS MATERIALIZED (
  SELECT g FROM (
    SELECT g, count(*) AS c FROM ng GROUP BY 1
    ORDER BY c DESC, g LIMIT {LANGID_TOP_K})
),
lg AS MATERIALIZED (
  SELECT lang, g, count(*)::BIGINT AS cnt
  FROM ng JOIN feat USING (g) GROUP BY 1, 2
),
langs AS (SELECT DISTINCT lang FROM nrm),
tot AS (
  SELECT l.lang, coalesce(sum(lg.cnt), 0)::BIGINT AS tot
  FROM langs l LEFT JOIN lg ON l.lang = lg.lang GROUP BY 1
),
model AS MATERIALIZED (
  SELECT l.lang, f.g,
         {_LANGID_Q.format(x="coalesce(lg.cnt, 0) + 1")}
         - {_LANGID_Q.format(x=f"t.tot + {LANGID_TOP_K}")} AS w
  FROM langs l
  CROSS JOIN feat f
  LEFT JOIN lg ON lg.lang = l.lang AND lg.g = f.g
  JOIN tot t ON t.lang = l.lang
),
prior AS (
  SELECT lang,
         {_LANGID_Q.format(x="count(*)")}
         - {_LANGID_Q.format(x="(SELECT count(*) FROM nrm)")} AS p
  FROM nrm GROUP BY 1
),
hits AS MATERIALIZED (
  SELECT n.doc_id, m.lang AS cand, sum(m.w)::BIGINT AS h
  FROM ng n JOIN model m ON n.g = m.g GROUP BY 1, 2
),
sc AS (
  SELECT d.doc_id, d.lang AS true_lang, p.lang AS cand,
         p.p + coalesce(h.h, 0) AS s
  FROM nrm d CROSS JOIN prior p
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand = p.lang
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY s DESC, cand) AS rn
    FROM sc) WHERE rn = 1
)
SELECT true_lang AS lang, pred_lang, count(*)::BIGINT AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["text_lang_id_ngram"] = text_lang_id_ngram
ORACLES["text_lang_id_ngram"] = TEXT_LANG_ID_NGRAM_SQL


# ===========================================================================
# sketch family (operators/sketch.py) — count-min frequency estimation and
# exact hot-key skew diagnostics over events.user_id.  All-BIGINT md5
# bucket arithmetic, so the sketch cells, estimates, heavy-hitter sets,
# and fixed-point skew ratios are bit-identical across engines.
# ===========================================================================

CMS_DEPTH = 4
CMS_HH_WIDTH = 4096   # sparse sketch: estimates ≈ exact, HH set ≈ truth
CMS_ERR_WIDTH = 64    # dense sketch: forced collisions, error stats nonzero
SKEW_NUM, SKEW_DEN = 12, 10  # threshold = 1.2× the mean per-key count


def _cms_oracle_prelude(width: int) -> str:
    """Shared CTE chain: keys → sketch → candidates → min-over-depth
    estimates, mirroring cms_build/cms_estimate's md5 bucket math."""
    h = "('0x' || substr(md5('cms' || {d} || ':' || {k}), 1, 8))::BIGINT % " + str(width)
    return f"""
ks AS MATERIALIZED (
  SELECT user_id::VARCHAR AS k FROM events WHERE user_id IS NOT NULL
),
ds AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d),
sk AS MATERIALIZED (
  SELECT d, {h.format(d="d", k="k")} AS b, count(*)::BIGINT AS cnt
  FROM ks CROSS JOIN ds GROUP BY 1, 2
),
cand AS MATERIALIZED (SELECT DISTINCT k FROM ks),
est AS MATERIALIZED (
  SELECT c.k, min(s.cnt)::BIGINT AS est
  FROM cand c CROSS JOIN ds
  JOIN sk s ON s.d = ds.d AND s.b = {h.format(d="ds.d", k="c.k")}
  GROUP BY 1
)"""


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS-estimated heavy hitters: users whose estimated event count
    exceeds 1.2× the mean.  Wide sketch (4096) so collisions are rare
    and the set tracks the exact hot keys; CMS overestimate-only means
    zero false negatives by construction."""
    from qdrant_datafusion_spark.operators.sketch import cms_heavy_hitters

    ev = _events(spark, sf_dir)
    return cms_heavy_hitters(
        ev, "user_id", depth=CMS_DEPTH, width=CMS_HH_WIDTH,
        num=SKEW_NUM, den=SKEW_DEN,
    ).select(
        "user_id", F.col("est").alias("est_count")
    ).orderBy(F.desc("est_count"), "user_id")


SKETCH_CMS_HEAVY_HITTERS_SQL = f"""
WITH {_cms_oracle_prelude(CMS_HH_WIDTH)},
st AS (
  SELECT (SELECT sum(cnt) FROM sk WHERE d = 0)::BIGINT AS total,
         (SELECT count(*) FROM cand)::BIGINT AS nk
)
SELECT est.k::BIGINT AS user_id, est.est AS est_count
FROM est, st
WHERE est.est * st.nk * {SKEW_DEN} > {SKEW_NUM} * st.total
ORDER BY est_count DESC, user_id
"""

QUERIES["sketch_cms_heavy_hitters"] = sketch_cms_heavy_hitters
ORACLES["sketch_cms_heavy_hitters"] = SKETCH_CMS_HEAVY_HITTERS_SQL


def sketch_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS estimation-error audit against exact counts, on a
    deliberately narrow sketch (64 buckets ≪ distinct keys) so
    collisions are forced: one row of (n_keys, n_over, n_under,
    max_err, sum_err).  n_under must be 0 — CMS never underestimates —
    making this gate a cross-engine proof of the sketch invariant."""
    from qdrant_datafusion_spark.operators.sketch import cms_build, cms_estimate

    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    sketch = cms_build(ev, "user_id", depth=CMS_DEPTH, width=CMS_ERR_WIDTH)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    est = cms_estimate(
        exact.select("user_id"), "user_id", sketch,
        depth=CMS_DEPTH, width=CMS_ERR_WIDTH,
    )
    j = exact.join(est, "user_id")
    return j.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("est") > F.col("cnt"), 1).otherwise(0))
        .cast("bigint").alias("n_over"),
        F.sum(F.when(F.col("est") < F.col("cnt"), 1).otherwise(0))
        .cast("bigint").alias("n_under"),
        F.max(F.col("est") - F.col("cnt")).cast("bigint").alias("max_err"),
        F.sum(F.col("est") - F.col("cnt")).cast("bigint").alias("sum_err"),
    )


SKETCH_CMS_ERROR_SQL = f"""
WITH {_cms_oracle_prelude(CMS_ERR_WIDTH)},
exact AS (SELECT k, count(*)::BIGINT AS cnt FROM ks GROUP BY 1)
SELECT count(*)::BIGINT AS n_keys,
       sum(CASE WHEN e.est > x.cnt THEN 1 ELSE 0 END)::BIGINT AS n_over,
       sum(CASE WHEN e.est < x.cnt THEN 1 ELSE 0 END)::BIGINT AS n_under,
       max(e.est - x.cnt)::BIGINT AS max_err,
       sum(e.est - x.cnt)::BIGINT AS sum_err
FROM exact x JOIN est e USING (k)
"""

QUERIES["sketch_cms_error"] = sketch_cms_error
ORACLES["sketch_cms_error"] = SKETCH_CMS_ERROR_SQL


def skew_hot_keys_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shuffle-skew diagnostic: users above 1.2× the mean event
    count with their skew ratio in truncated fixed-point micros — the
    hot-key list operators.joins.salted_join consumes."""
    from qdrant_datafusion_spark.operators.sketch import skew_hot_keys

    ev = _events(spark, sf_dir)
    return skew_hot_keys(ev, "user_id", num=SKEW_NUM, den=SKEW_DEN).orderBy(
        F.desc("cnt"), "user_id"
    )


SKEW_HOT_KEYS_SQL = f"""
WITH c AS MATERIALIZED (
  SELECT user_id, count(*)::BIGINT AS cnt
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
st AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS nk FROM c)
SELECT c.user_id, c.cnt,
       (c.cnt * st.nk * 1000000) // st.total AS ratio_micro
FROM c, st
WHERE c.cnt * st.nk * {SKEW_DEN} > {SKEW_NUM} * st.total
ORDER BY cnt DESC, user_id
"""

QUERIES["skew_hot_keys"] = skew_hot_keys_gate
ORACLES["skew_hot_keys"] = SKEW_HOT_KEYS_SQL


def sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches alone (the CMS inner
    product): estimate |orders ⋈ customer on custkey| without scanning
    either table again, alongside the exact count — one row of
    (est_pairs, exact_pairs, err).  err ≥ 0 always (inner product min
    over depth lanes is overestimate-only), so the estimate is a safe
    upper bound for shuffle planning.  The gate pins width=4096 for the
    literal oracle; the inner-product error grows ~|keys|²/width, so a
    production caller sizes width with cms_auto_width (the measured err
    column IS that lesson: 0 at sf0.001, +33% at sf0.01, +362% at
    sf0.1 — all safe-side)."""
    from qdrant_datafusion_spark.operators.sketch import cms_build, cms_join_size

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sa = cms_build(orders, "o_custkey", depth=CMS_DEPTH, width=CMS_HH_WIDTH)
    sb = cms_build(cust, "c_custkey", depth=CMS_DEPTH, width=CMS_HH_WIDTH)
    est = cms_join_size(sa, sb)
    exact = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(F.count("*").cast("bigint").alias("exact_pairs"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_pairs",
            "exact_pairs",
            (F.col("est_pairs") - F.col("exact_pairs")).cast("bigint").alias("err"),
        )
    )


def _cms_sketch_sql(keys_cte: str, width: int) -> str:
    """Sketch CTE body over a 1-column (k VARCHAR) key source."""
    h = (
        "('0x' || substr(md5('cms' || d || ':' || k), 1, 8))::BIGINT % "
        + str(width)
    )
    return f"SELECT d, {h} AS b, count(*)::BIGINT AS cnt FROM {keys_cte} CROSS JOIN ds GROUP BY 1, 2"


SKETCH_JOIN_SIZE_SQL = f"""
WITH ka AS MATERIALIZED (
  SELECT o_custkey::VARCHAR AS k FROM orders WHERE o_custkey IS NOT NULL
),
kb AS MATERIALIZED (
  SELECT c_custkey::VARCHAR AS k FROM customer WHERE c_custkey IS NOT NULL
),
ds AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d),
sa AS MATERIALIZED ({_cms_sketch_sql("ka", CMS_HH_WIDTH)}),
sb AS MATERIALIZED ({_cms_sketch_sql("kb", CMS_HH_WIDTH)}),
lane AS (
  SELECT sa.d, sum(sa.cnt * sb.cnt)::BIGINT AS dot
  FROM sa JOIN sb ON sa.d = sb.d AND sa.b = sb.b GROUP BY 1
),
est AS (SELECT coalesce(min(dot), 0)::BIGINT AS est_pairs FROM lane),
ex AS (
  SELECT count(*)::BIGINT AS exact_pairs
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT est.est_pairs, ex.exact_pairs,
       (est.est_pairs - ex.exact_pairs)::BIGINT AS err
FROM est, ex
"""

QUERIES["sketch_join_size"] = sketch_join_size
ORACLES["sketch_join_size"] = SKETCH_JOIN_SIZE_SQL


# ---------------------------------------------------------------------------
# KMV distinct sketches (operators/sketch.py) — bounded-size distinct
# counting and sketch-level set algebra (union / intersection / Jaccard),
# the COUNT(DISTINCT) complement of the CMS frequency gates above.  All
# md5/BIGINT arithmetic: sketch rows, estimates, and error stats are
# bit-identical across engines, so every gate is a full value oracle that
# grades the estimate against the exact answer computed in the same query.
# ---------------------------------------------------------------------------

KMV_K_DISTINCT = 256   # ~1/sqrt(k) ≈ 6% expected relative error
KMV_K_JACCARD = 512    # set-op gate: tighter sketches for ρ stability
KMV_K_GROUPS = 128     # per-group sketches: bounded k × n_groups rows
KMV_ERR_BOUND_MICRO = 250_000   # 25% ≈ 4/sqrt(256): generous, stable
KMV_J_BOUND_MICRO = 140_000     # |estJ − exactJ| ≤ 0.14 ≈ 3/sqrt(512)

#: DuckDB twin of operators.sketch.kmv_hash over a VARCHAR expression
_KMV_H = "('0x' || substr(md5('kmv:' || {k}), 1, 8))::BIGINT"
#: DuckDB twin of the saturated-sketch estimator for sketch stats
#: (n_sketch, kth_hash) at a given k — exact below saturation
_KMV_EST = (
    "CASE WHEN n_sketch < {k} THEN n_sketch"
    " ELSE ({km1} * 4294967296) // greatest(kth_hash, 1) END::BIGINT"
)


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimation over orders.o_custkey, graded
    in-query against the exact COUNT(DISTINCT): one row of (k, n_sketch,
    kth_hash, est_distinct, exact_distinct, err_micro, within_bound).
    At sf0.001 the 150-key stream undersaturates the k=256 sketch so the
    estimate IS exact (the n < k branch); at sf0.01/sf0.1 the estimator
    runs and lands within 8% — the gate asserts the 4/√k bound.  The
    exact count the gate carries is only the grader; a production caller
    runs just the sketch half: one map-side-combined distinct over the
    32-bit hash + a k-row TakeOrderedAndProject, never a full
    COUNT(DISTINCT) shuffle of the raw keys."""
    from qdrant_datafusion_spark.operators.sketch import kmv_build, kmv_estimate

    orders = _t(spark, sf_dir, "orders")
    k = KMV_K_DISTINCT
    est = kmv_estimate(kmv_build(orders, "o_custkey", k), k)
    exact = orders.where(F.col("o_custkey").isNotNull()).agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(k).cast("int").alias("k"),
        "n_sketch",
        "kth_hash",
        "est_distinct",
        "exact_distinct",
        F.expr(
            "abs(est_distinct - exact_distinct) * 1000000"
            " div greatest(exact_distinct, 1)"
        ).cast("bigint").alias("err_micro"),
        F.expr(
            f"abs(est_distinct - exact_distinct) * 1000000"
            f" div greatest(exact_distinct, 1) <= {KMV_ERR_BOUND_MICRO}"
        ).alias("within_bound"),
    )


SKETCH_KMV_DISTINCT_SQL = f"""
WITH hs AS MATERIALIZED (
  SELECT DISTINCT {_KMV_H.format(k="o_custkey::VARCHAR")} AS h
  FROM orders WHERE o_custkey IS NOT NULL
),
sk AS MATERIALIZED (SELECT h FROM hs ORDER BY h LIMIT {KMV_K_DISTINCT}),
st AS (
  SELECT count(*)::BIGINT AS n_sketch,
         coalesce(max(h), 0)::BIGINT AS kth_hash
  FROM sk
),
ex AS (
  SELECT count(DISTINCT o_custkey)::BIGINT AS exact_distinct
  FROM orders WHERE o_custkey IS NOT NULL
),
e AS (
  SELECT n_sketch, kth_hash,
         {_KMV_EST.format(k=KMV_K_DISTINCT, km1=KMV_K_DISTINCT - 1)}
           AS est_distinct
  FROM st
)
SELECT {KMV_K_DISTINCT}::INT AS k, n_sketch, kth_hash, est_distinct,
       exact_distinct,
       (abs(est_distinct - exact_distinct) * 1000000
        // greatest(exact_distinct, 1))::BIGINT AS err_micro,
       (abs(est_distinct - exact_distinct) * 1000000
        // greatest(exact_distinct, 1)) <= {KMV_ERR_BOUND_MICRO}
         AS within_bound
FROM e, ex
"""

QUERIES["sketch_kmv_distinct"] = sketch_kmv_distinct
ORACLES["sketch_kmv_distinct"] = SKETCH_KMV_DISTINCT_SQL


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-level set algebra (Broder over the merged KMV sketch):
    A = custkeys with a >400k order, B = custkeys with an URGENT order —
    two genuinely overlapping sets (J ≈ 0.77 at every SF).  One row:
    the merged sketch's union/intersection/Jaccard estimates next to
    the exact values, with the |estJ − exactJ| ≤ 3/√k assertion.  This
    is the operation COUNT(DISTINCT) cannot decompose into: both input
    sketches are ≤ k rows, merge + ρ are broadcast semi-joins over
    bounded tables, and neither original stream is rescanned — at
    sf0.001 the union undersaturates the sketch and every estimate
    collapses to exact, proving the n < k branch cross-engine."""
    from qdrant_datafusion_spark.operators.sketch import (
        kmv_build,
        kmv_set_estimates,
    )

    orders = _t(spark, sf_dir, "orders")
    k = KMV_K_JACCARD
    a = kmv_build(orders.where(F.col("o_totalprice") > 400000), "o_custkey", k)
    b = kmv_build(
        orders.where(F.col("o_orderpriority") == "1-URGENT"), "o_custkey", k
    )
    est = kmv_set_estimates(a, b, k)
    exact = orders.agg(
        F.count_distinct(
            F.when(
                (F.col("o_totalprice") > 400000)
                | (F.col("o_orderpriority") == "1-URGENT"),
                F.col("o_custkey"),
            )
        ).cast("bigint").alias("exact_union"),
        F.count_distinct(
            F.when(F.col("o_totalprice") > 400000, F.col("o_custkey"))
        ).cast("bigint").alias("_na"),
        F.count_distinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).cast("bigint").alias("_nb"),
    ).select(
        "exact_union",
        (F.col("_na") + F.col("_nb") - F.col("exact_union"))
        .cast("bigint")
        .alias("exact_intersect"),
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(k).cast("int").alias("k"),
        "n_merged",
        "kth_hash",
        "est_union",
        "rho",
        "jaccard_micro",
        "est_intersect",
        "exact_union",
        "exact_intersect",
        F.expr(
            "exact_intersect * 1000000 div greatest(exact_union, 1)"
        ).cast("bigint").alias("exact_jaccard_micro"),
        F.expr(
            "abs(jaccard_micro - exact_intersect * 1000000"
            f" div greatest(exact_union, 1)) <= {KMV_J_BOUND_MICRO}"
        ).alias("j_err_ok"),
    )


SKETCH_KMV_JACCARD_SQL = f"""
WITH ha AS MATERIALIZED (
  SELECT DISTINCT {_KMV_H.format(k="o_custkey::VARCHAR")} AS h
  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice > 400000
),
hb AS MATERIALIZED (
  SELECT DISTINCT {_KMV_H.format(k="o_custkey::VARCHAR")} AS h
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderpriority = '1-URGENT'
),
sa AS MATERIALIZED (SELECT h FROM ha ORDER BY h LIMIT {KMV_K_JACCARD}),
sb AS MATERIALIZED (SELECT h FROM hb ORDER BY h LIMIT {KMV_K_JACCARD}),
mg AS MATERIALIZED (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
  ORDER BY h LIMIT {KMV_K_JACCARD}
),
st AS (
  SELECT count(*)::BIGINT AS n_merged,
         coalesce(max(h), 0)::BIGINT AS kth_hash
  FROM mg
),
rh AS (
  SELECT count(*)::BIGINT AS rho FROM mg
  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
),
eu AS (
  SELECT n_sketch, kth_hash,
         {_KMV_EST.format(k=KMV_K_JACCARD, km1=KMV_K_JACCARD - 1)}
           AS est_union
  FROM (SELECT n_merged AS n_sketch, kth_hash FROM st)
),
ex AS (
  SELECT count(DISTINCT CASE WHEN o_totalprice > 400000
                               OR o_orderpriority = '1-URGENT'
                             THEN o_custkey END)::BIGINT AS exact_union,
         (count(DISTINCT CASE WHEN o_totalprice > 400000
                              THEN o_custkey END)
          + count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                THEN o_custkey END)
          - count(DISTINCT CASE WHEN o_totalprice > 400000
                                  OR o_orderpriority = '1-URGENT'
                                THEN o_custkey END))::BIGINT
           AS exact_intersect
  FROM orders
)
SELECT {KMV_K_JACCARD}::INT AS k, st.n_merged, st.kth_hash, eu.est_union,
       rh.rho,
       (rh.rho * 1000000 // greatest(st.n_merged, 1))::BIGINT
         AS jaccard_micro,
       (rh.rho * eu.est_union // greatest(st.n_merged, 1))::BIGINT
         AS est_intersect,
       ex.exact_union, ex.exact_intersect,
       (ex.exact_intersect * 1000000 // greatest(ex.exact_union, 1))::BIGINT
         AS exact_jaccard_micro,
       abs(rh.rho * 1000000 // greatest(st.n_merged, 1)
           - ex.exact_intersect * 1000000 // greatest(ex.exact_union, 1))
         <= {KMV_J_BOUND_MICRO} AS j_err_ok
FROM st, rh, eu, ex
"""

QUERIES["sketch_kmv_jaccard"] = sketch_kmv_jaccard
ORACLES["sketch_kmv_jaccard"] = SKETCH_KMV_JACCARD_SQL


def sketch_kmv_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV: distinct users per event_type from ≤ k-row
    per-group sketches, graded against the exact per-group
    COUNT(DISTINCT) — one row per type of (event_type, n_sketch,
    kth_hash, est_distinct, exact_distinct, err_micro, within_bound).
    The sketch build is one distinct over (group, hash) + one rank
    window; at 100 TB the output stays k × n_groups rows, and the
    sketches merge across ingest batches (kmv_merge) where exact
    per-group distinct counts would each need a full re-shuffle."""
    from qdrant_datafusion_spark.operators.sketch import (
        kmv_build_grouped,
        kmv_estimate_grouped,
    )

    ev = _events(spark, sf_dir)
    k = KMV_K_GROUPS
    est = kmv_estimate_grouped(
        kmv_build_grouped(ev, "event_type", "user_id", k), "event_type", k
    )
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_sketch",
            "kth_hash",
            "est_distinct",
            "exact_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000000"
                " div greatest(exact_distinct, 1)"
            ).cast("bigint").alias("err_micro"),
            F.expr(
                f"abs(est_distinct - exact_distinct) * 1000000"
                f" div greatest(exact_distinct, 1) <= {KMV_ERR_BOUND_MICRO}"
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


SKETCH_KMV_GROUPS_SQL = f"""
WITH hs AS MATERIALIZED (
  SELECT DISTINCT event_type,
         {_KMV_H.format(k="user_id::VARCHAR")} AS h
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
sk AS MATERIALIZED (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hs) WHERE rn <= {KMV_K_GROUPS}
),
st AS (
  SELECT event_type, count(*)::BIGINT AS n_sketch,
         max(h)::BIGINT AS kth_hash
  FROM sk GROUP BY 1
),
e AS (
  SELECT event_type, n_sketch, kth_hash,
         {_KMV_EST.format(k=KMV_K_GROUPS, km1=KMV_K_GROUPS - 1)}
           AS est_distinct
  FROM st
),
ex AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT e.event_type, e.n_sketch, e.kth_hash, e.est_distinct,
       ex.exact_distinct,
       (abs(e.est_distinct - ex.exact_distinct) * 1000000
        // greatest(ex.exact_distinct, 1))::BIGINT AS err_micro,
       (abs(e.est_distinct - ex.exact_distinct) * 1000000
        // greatest(ex.exact_distinct, 1)) <= {KMV_ERR_BOUND_MICRO}
         AS within_bound
FROM e JOIN ex USING (event_type)
ORDER BY event_type
"""

QUERIES["sketch_kmv_groups"] = sketch_kmv_groups
ORACLES["sketch_kmv_groups"] = SKETCH_KMV_GROUPS_SQL


HIST_BUCKETS = 256
HIST_QS = (500_000, 900_000, 990_000)  # p50 / p90 / p99 in micros


def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles off a bounded equi-width histogram sketch — the
    quantile member of the sketch trio (CMS frequencies, KMV distincts).
    p50/p90/p99 of o_totalprice (fixed-point cents) are estimated from
    a 256-row count vector; the gate then proves the histogram guarantee
    IN-QUERY: for each quantile's claimed bucket [b_lo, b_hi], the exact
    counts show ``n_lt_blo < rank_r ≤ n_le_bhi`` — the true r-th
    smallest value lies inside the bucket, so the estimate's error is
    bounded by one bucket width with NO sort of the data anywhere: the
    sketch build is one map-side-combined groupBy, the quantile walk
    runs on ≤ 256 rows, and the verification is two conditional counts.
    """
    from qdrant_datafusion_spark.operators.sketch import (
        hist_build,
        hist_quantiles,
    )

    orders = _t(spark, sf_dir, "orders")
    cents = orders.where(F.col("o_totalprice").isNotNull()).select(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("c")
    )
    # qs feeds the grading cross-join AND the final select; it is 3
    # rows — pin it once so orders is not re-scanned per consumer
    qs = hist_quantiles(
        hist_build(cents, "c", HIST_BUCKETS), HIST_BUCKETS, list(HIST_QS)
    ).localCheckpoint(eager=False)
    ver = (
        cents.crossJoin(
            F.broadcast(qs.select("q_micro", "rank_r", "b_lo", "b_hi"))
        )
        .groupBy("q_micro", "rank_r", "b_lo", "b_hi")
        .agg(
            F.sum(F.when(F.col("c") < F.col("b_lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lt_blo"),
            F.sum(F.when(F.col("c") <= F.col("b_hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le_bhi"),
        )
    )
    return (
        qs.join(ver, ["q_micro", "rank_r", "b_lo", "b_hi"])
        .select(
            F.col("q_micro").cast("bigint").alias("q_micro"),
            "n_total",
            "rank_r",
            "bucket",
            "b_lo",
            "b_hi",
            "est",
            "n_lt_blo",
            "n_le_bhi",
            (
                (F.col("n_lt_blo") < F.col("rank_r"))
                & (F.col("rank_r") <= F.col("n_le_bhi"))
            ).alias("contains_rank"),
        )
        .orderBy("q_micro")
    )


SKETCH_HIST_QUANTILES_SQL = f"""
WITH cv AS MATERIALIZED (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
mm AS (SELECT min(c) AS lo, max(c) AS hi FROM cv),
hist AS MATERIALIZED (
  SELECT ((c - lo) * {HIST_BUCKETS}) // (hi - lo + 1) AS b,
         count(*)::BIGINT AS cnt, lo, hi
  FROM cv, mm GROUP BY 1, 3, 4
),
cum AS (
  SELECT *, sum(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM hist),
qs AS (SELECT unnest([{", ".join(str(q) for q in HIST_QS)}])::BIGINT
         AS q_micro),
rk AS (
  SELECT q_micro, n_total,
         greatest(1, (q_micro * n_total + 999999) // 1000000)::BIGINT
           AS rank_r
  FROM qs, tot
),
pick AS (
  SELECT rk.q_micro, rk.n_total, rk.rank_r, cu.b AS bucket,
         (cu.lo + ((cu.b * (cu.hi - cu.lo + 1) + {HIST_BUCKETS - 1})
                   // {HIST_BUCKETS}))::BIGINT AS b_lo,
         (cu.lo + (((cu.b + 1) * (cu.hi - cu.lo + 1) + {HIST_BUCKETS - 1})
                   // {HIST_BUCKETS}) - 1)::BIGINT AS b_hi,
         cu.cnt, (cu.cum - cu.cnt) AS cum_before
  FROM rk JOIN cum cu
    ON cu.cum >= rk.rank_r AND cu.cum - cu.cnt < rk.rank_r
),
est AS (
  SELECT *, least(b_hi, b_lo + ((b_hi - b_lo) * (rank_r - cum_before))
                        // greatest(cnt, 1))::BIGINT AS est
  FROM pick
),
ver AS (
  SELECT e.q_micro, e.b_lo AS vlo, e.b_hi AS vhi,
         sum(CASE WHEN cv.c < e.b_lo THEN 1 ELSE 0 END)::BIGINT
           AS n_lt_blo,
         sum(CASE WHEN cv.c <= e.b_hi THEN 1 ELSE 0 END)::BIGINT
           AS n_le_bhi
  FROM est e, cv GROUP BY 1, 2, 3
)
SELECT e.q_micro, e.n_total, e.rank_r, e.bucket, e.b_lo, e.b_hi, e.est,
       v.n_lt_blo, v.n_le_bhi,
       (v.n_lt_blo < e.rank_r AND e.rank_r <= v.n_le_bhi) AS contains_rank
FROM est e JOIN ver v ON v.q_micro = e.q_micro
ORDER BY e.q_micro
"""

QUERIES["sketch_hist_quantiles"] = sketch_hist_quantiles
ORACLES["sketch_hist_quantiles"] = SKETCH_HIST_QUANTILES_SQL


PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
PROFILE_K = 256


def pipeline_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sweep column profile of orders (pipeline.profile_columns):
    per column, row/null counts, lexicographic min/max of the string
    rendering, and a KMV distinct estimate — graded against the exact
    per-column COUNT(DISTINCT) in-query.  The profile costs two
    column-pruned passes over the table regardless of how many columns
    are profiled (one stats groupBy + one per-column KMV sketch), where
    the naive approach is one COUNT(DISTINCT) shuffle PER column."""
    from qdrant_datafusion_spark.operators.pipeline import profile_columns

    orders = _t(spark, sf_dir, "orders")
    prof = profile_columns(orders, list(PROFILE_COLS), k=PROFILE_K)
    exact_aggs = [
        F.count_distinct(F.col(c).cast("string")).cast("long").alias(c)
        for c in PROFILE_COLS
    ]
    wide = orders.agg(*exact_aggs)
    exact = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).alias("exact_distinct"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("_e")
    ).select("_e.column", "_e.exact_distinct")
    return (
        prof.join(F.broadcast(exact), "column")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            "min_v",
            "max_v",
            "n_sketch",
            "est_distinct",
            "exact_distinct",
            F.expr(
                "abs(est_distinct - exact_distinct) * 1000000"
                " div greatest(exact_distinct, 1)"
            ).cast("bigint").alias("err_micro"),
        )
        .orderBy("column")
    )


def _profile_arm_sql(c: str, cast: bool) -> str:
    v = f"{c}::VARCHAR" if cast else c
    return f"SELECT '{c}' AS col, {v} AS v FROM orders"


PIPELINE_PROFILE_SQL = f"""
WITH ex AS MATERIALIZED (
  {_profile_arm_sql("o_orderkey", True)}
  UNION ALL {_profile_arm_sql("o_custkey", True)}
  UNION ALL {_profile_arm_sql("o_orderstatus", False)}
  UNION ALL {_profile_arm_sql("o_orderpriority", False)}
),
stats AS (
  SELECT col, count(*)::BIGINT AS n_rows,
         sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         min(v) AS min_v, max(v) AS max_v
  FROM ex GROUP BY col
),
hs AS MATERIALIZED (
  SELECT DISTINCT col, {_KMV_H.format(k="v")} AS h
  FROM ex WHERE v IS NOT NULL
),
sk AS (
  SELECT col, h FROM (
    SELECT col, h,
           row_number() OVER (PARTITION BY col ORDER BY h) AS rn
    FROM hs) WHERE rn <= {PROFILE_K}
),
st AS (
  SELECT col, count(*)::BIGINT AS n_sketch, max(h)::BIGINT AS kth_hash
  FROM sk GROUP BY col
),
e AS (
  SELECT col, n_sketch,
         {_KMV_EST.format(k=PROFILE_K, km1=PROFILE_K - 1)} AS est_distinct
  FROM st
),
xd AS (
  SELECT col, count(DISTINCT v)::BIGINT AS exact_distinct
  FROM ex WHERE v IS NOT NULL GROUP BY col
)
SELECT s.col AS column, s.n_rows, s.n_nulls, s.min_v, s.max_v,
       coalesce(e.n_sketch, 0)::BIGINT AS n_sketch,
       coalesce(e.est_distinct, 0)::BIGINT AS est_distinct,
       xd.exact_distinct,
       (abs(coalesce(e.est_distinct, 0) - xd.exact_distinct) * 1000000
        // greatest(xd.exact_distinct, 1))::BIGINT AS err_micro
FROM stats s
LEFT JOIN e ON e.col = s.col
JOIN xd ON xd.col = s.col
ORDER BY s.col
"""

QUERIES["pipeline_profile"] = pipeline_profile
ORACLES["pipeline_profile"] = PIPELINE_PROFILE_SQL


PMI_MIN_COUNT = 5
PMI_TOP = 50


def text_pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over documents (functions.text.pmi_phrases):
    the top-50 adjacent word pairs by quantized-log PMI with a
    min-count-5 support floor — the word2phrase step that promotes
    high-PMI pairs to single vocabulary pieces before tokenizer
    training.  Integer fixed-point scores, (w1, w2) tie-break."""
    from qdrant_datafusion_spark.functions.text import pmi_phrases

    docs = _t(spark, sf_dir, "documents")
    return pmi_phrases(
        docs, "text", min_count=PMI_MIN_COUNT, top=PMI_TOP
    )


_PMI_Q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"

TEXT_PMI_PHRASES_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(trim(text)),
                     '[ \\t\\n\\r\\f\\x0b]+'), x -> x <> '') AS toks
  FROM documents
),
uni AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
tot AS (SELECT sum(c)::BIGINT AS n FROM uni),
big AS MATERIALIZED (
  SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
          FROM t WHERE len(toks) >= 2)
  ) GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
       ({_PMI_Q.format(x="b.c12")} + {_PMI_Q.format(x="tot.n")}
        - {_PMI_Q.format(x="u1.c")} - {_PMI_Q.format(x="u2.c")})::BIGINT
         AS pmi_q
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2, tot
ORDER BY pmi_q DESC, b.w1, b.w2 LIMIT {PMI_TOP}
"""

QUERIES["text_pmi_phrases"] = text_pmi_phrases
ORACLES["text_pmi_phrases"] = TEXT_PMI_PHRASES_SQL


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer — a 4-table
    join (fact lineitem ⋈ orders shuffled on their keys; customer and
    nation broadcast as dims), a customer-keyed aggregation, and a
    top-20 TakeOrderedAndProject.  Revenue follows the repo's decimal
    convention (cast each term to DECIMAL(18,6) BEFORE summing so the
    total is order-independent, round once at the end)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2)
         AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND o_orderstatus = 'F'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

QUERIES["q10_returned_items"] = q10_returned_items
ORACLES["q10_returned_items"] = Q10_SQL


def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup) of 100 documents with
    weight = text length + 1: inclusion ∝ weight, without replacement,
    deterministic per (id, seed), re-rollable by seed — the
    weight-aware counterpart of hash_split's uniform sampling.  The
    plan is one narrow projection + TakeOrderedAndProject (no global
    sort); all arithmetic is the BIGINT fixed-point (w·10^12) div u."""
    from qdrant_datafusion_spark.operators.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", (F.coalesce(F.length("text"), F.lit(0)) + 1).cast("bigint")
    )
    return weighted_sample(docs, "doc_id", "w", k=100, seed=0).select(
        "doc_id", "w", "priority"
    )


PIPELINE_WEIGHTED_SAMPLE_SQL = """
WITH wt AS (
  SELECT doc_id, (coalesce(len(text), 0) + 1)::BIGINT AS w,
         (('0x' || substr(md5(doc_id::VARCHAR || ':' || '0'), 1, 8))::BIGINT
          + 1) AS u
  FROM documents
)
SELECT doc_id, w, (w * 1000000000000) // u AS priority
FROM wt ORDER BY priority DESC, doc_id LIMIT 100
"""

QUERIES["pipeline_weighted_sample"] = pipeline_weighted_sample
ORACLES["pipeline_weighted_sample"] = PIPELINE_WEIGHTED_SAMPLE_SQL


def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sketch_cms_heavy_hitters, graded by the SAME
    oracle — the point is CMS mergeability: cell counts ADD, so the
    UNCHANGED ``cms_build`` operator runs directly on a readStream
    (events re-laid-out as 2 files, maxFilesPerTrigger=1) as a stateful
    complete-mode aggregation whose state is the bounded depth×width
    sketch, and the final sketch is bit-identical to the batch build
    whatever the micro-batch split.  The post-stream estimate/threshold
    math is the batch path on the drained sink table."""
    import shutil
    import tempfile

    from qdrant_datafusion_spark.operators.sketch import cms_build, cms_estimate

    raw = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="sg_stream_cms_")
    src = os.path.join(tmp, "src")
    raw.repartition(2).write.parquet(src)
    try:
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        sketch = _run_stream_to_table(
            cms_build(stream, "user_id", depth=CMS_DEPTH, width=CMS_HH_WIDTH),
            spark,
            "cms",
            "complete",
        ).localCheckpoint(eager=True)  # pin before the temp source vanishes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cand = raw.where(F.col("user_id").isNotNull()).select("user_id").distinct()
    est = cms_estimate(
        cand, "user_id", sketch, depth=CMS_DEPTH, width=CMS_HH_WIDTH
    )
    total = sketch.where(F.col("d") == 0).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("_total")
    )
    nk = cand.agg(F.count("*").cast("bigint").alias("_nk"))
    return (
        est.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(nk))
        .where(F.col("est") * F.col("_nk") * SKEW_DEN > SKEW_NUM * F.col("_total"))
        .select("user_id", F.col("est").cast("bigint").alias("est_count"))
        .orderBy(F.desc("est_count"), "user_id")
    )


QUERIES["streaming_heavy_hitters"] = streaming_heavy_hitters
ORACLES["streaming_heavy_hitters"] = SKETCH_CMS_HEAVY_HITTERS_SQL


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
    import shutil
    import tempfile

    from qdrant_datafusion_spark.operators.sketch import (
        hist_build,
        hist_quantiles,
    )

    raw = _t(spark, sf_dir, "orders")
    cents_expr = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    bounds = (
        raw.where(F.col("o_totalprice").isNotNull())
        .agg(
            F.min(F.expr(cents_expr)).alias("lo"),
            F.max(F.expr(cents_expr)).alias("hi"),
        )
        .collect()[0]
    )
    tmp = tempfile.mkdtemp(prefix="sg_stream_hist_")
    src = os.path.join(tmp, "src")
    raw.repartition(2).write.parquet(src)
    try:
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .where(F.col("o_totalprice").isNotNull())
            .select(F.expr(cents_expr).alias("c"))
        )
        sketch = _run_stream_to_table(
            hist_build(
                stream, "c", HIST_BUCKETS,
                lo=int(bounds["lo"]), hi=int(bounds["hi"]),
            ),
            spark,
            "hist",
            "complete",
        ).localCheckpoint(eager=True)  # pin before the temp source vanishes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cents = raw.where(F.col("o_totalprice").isNotNull()).select(
        F.expr(cents_expr).alias("c")
    )
    qs = hist_quantiles(sketch, HIST_BUCKETS, list(HIST_QS)).localCheckpoint(
        eager=False
    )
    ver = (
        cents.crossJoin(
            F.broadcast(qs.select("q_micro", "rank_r", "b_lo", "b_hi"))
        )
        .groupBy("q_micro", "rank_r", "b_lo", "b_hi")
        .agg(
            F.sum(F.when(F.col("c") < F.col("b_lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lt_blo"),
            F.sum(F.when(F.col("c") <= F.col("b_hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_le_bhi"),
        )
    )
    return (
        qs.join(ver, ["q_micro", "rank_r", "b_lo", "b_hi"])
        .select(
            F.col("q_micro").cast("bigint").alias("q_micro"),
            "n_total",
            "rank_r",
            "bucket",
            "b_lo",
            "b_hi",
            "est",
            "n_lt_blo",
            "n_le_bhi",
            (
                (F.col("n_lt_blo") < F.col("rank_r"))
                & (F.col("rank_r") <= F.col("n_le_bhi"))
            ).alias("contains_rank"),
        )
        .orderBy("q_micro")
    )


QUERIES["streaming_hist_quantiles"] = streaming_hist_quantiles
ORACLES["streaming_hist_quantiles"] = SKETCH_HIST_QUANTILES_SQL


DRIFT_BUCKETS = 64
DRIFT_K = 256
#: shared histogram bounds for the drift compare: o_totalprice cents
#: span fixed from the whole table so both slices bucket identically
#: (the explicit-bounds mode exists exactly for cross-slice comparability)


def sketch_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift report between two slices of orders (URGENT vs LOW
    priority), composed entirely from bounded sketches — the check a
    pipeline runs on every new drop without scanning history twice:

    - **value drift**: equi-width histograms of o_totalprice cents
      built against SHARED explicit bounds (so buckets align), compared
      by fixed-point L1 distance of the count *proportions* —
      ``Σ_b |cnt_a·10⁶ div n_a − cnt_b·10⁶ div n_b|`` over ≤ B rows;
    - **key drift**: KMV Jaccard of the two slices' custkey sets
      (Broder ρ over the merged k-row sketches).

    One row: (n_a, n_b, l1_micro, n_merged, rho, jaccard_micro) — all
    BIGINT, bit-identical cross-engine.  Both measures are mergeable
    summaries: yesterday's sketches are reusable, so the daily cost is
    one pass over the NEW slice only."""
    from qdrant_datafusion_spark.operators.sketch import (
        hist_build,
        kmv_build,
        kmv_set_estimates,
    )

    orders = _t(spark, sf_dir, "orders")
    cents_expr = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    bounds = (
        orders.where(F.col("o_totalprice").isNotNull())
        .agg(
            F.min(F.expr(cents_expr)).alias("lo"),
            F.max(F.expr(cents_expr)).alias("hi"),
        )
        .collect()[0]
    )
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    a = orders.where(F.col("o_orderpriority") == "1-URGENT")
    b = orders.where(F.col("o_orderpriority") == "5-LOW")

    def _hist(side: DataFrame) -> DataFrame:
        return hist_build(
            side.where(F.col("o_totalprice").isNotNull()).select(
                F.expr(cents_expr).alias("c")
            ),
            "c",
            DRIFT_BUCKETS,
            lo=lo,
            hi=hi,
        )

    ha = _hist(a).select("b", F.col("cnt").alias("ca"))
    hb = _hist(b).select("b", F.col("cnt").alias("cb"))
    na = a.where(F.col("o_totalprice").isNotNull()).agg(
        F.count("*").cast("long").alias("n_a")
    )
    nb = b.where(F.col("o_totalprice").isNotNull()).agg(
        F.count("*").cast("long").alias("n_b")
    )
    l1 = (
        ha.join(hb, "b", "full")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .agg(
            F.sum(
                F.expr(
                    "abs(ca * 1000000 div greatest(n_a, 1)"
                    " - cb * 1000000 div greatest(n_b, 1))"
                )
            )
            .cast("bigint")
            .alias("l1_micro")
        )
    )
    kj = kmv_set_estimates(
        kmv_build(a, "o_custkey", DRIFT_K),
        kmv_build(b, "o_custkey", DRIFT_K),
        DRIFT_K,
    ).select("n_merged", "rho", "jaccard_micro")
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(l1))
        .crossJoin(F.broadcast(kj))
        .select("n_a", "n_b", "l1_micro", "n_merged", "rho", "jaccard_micro")
    )


SKETCH_DRIFT_REPORT_SQL = f"""
WITH mm AS (
  SELECT min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS lo,
         max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS hi
  FROM orders WHERE o_totalprice IS NOT NULL
),
av AS MATERIALIZED (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c, o_custkey
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
bv AS MATERIALIZED (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c, o_custkey
  FROM orders WHERE o_orderpriority = '5-LOW'
),
ha AS (
  SELECT ((least(greatest(c, lo), hi) - lo) * {DRIFT_BUCKETS})
           // (hi - lo + 1) AS b,
         count(*)::BIGINT AS ca
  FROM av, mm WHERE c IS NOT NULL GROUP BY 1
),
hb AS (
  SELECT ((least(greatest(c, lo), hi) - lo) * {DRIFT_BUCKETS})
           // (hi - lo + 1) AS b,
         count(*)::BIGINT AS cb
  FROM bv, mm WHERE c IS NOT NULL GROUP BY 1
),
ns AS (
  SELECT (SELECT count(*) FROM av WHERE c IS NOT NULL)::BIGINT AS n_a,
         (SELECT count(*) FROM bv WHERE c IS NOT NULL)::BIGINT AS n_b
),
l1 AS (
  SELECT sum(abs(coalesce(ca, 0) * 1000000 // greatest(n_a, 1)
              - coalesce(cb, 0) * 1000000 // greatest(n_b, 1)))::BIGINT
           AS l1_micro
  FROM ha FULL JOIN hb USING (b), ns
),
sa AS MATERIALIZED (
  SELECT h FROM (
    SELECT DISTINCT {_KMV_H.format(k="o_custkey::VARCHAR")} AS h
    FROM av WHERE o_custkey IS NOT NULL)
  ORDER BY h LIMIT {DRIFT_K}
),
sb AS MATERIALIZED (
  SELECT h FROM (
    SELECT DISTINCT {_KMV_H.format(k="o_custkey::VARCHAR")} AS h
    FROM bv WHERE o_custkey IS NOT NULL)
  ORDER BY h LIMIT {DRIFT_K}
),
mg AS MATERIALIZED (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
  ORDER BY h LIMIT {DRIFT_K}
),
st AS (SELECT count(*)::BIGINT AS n_merged FROM mg),
rh AS (
  SELECT count(*)::BIGINT AS rho FROM mg
  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)
)
SELECT ns.n_a, ns.n_b, l1.l1_micro, st.n_merged, rh.rho,
       (rh.rho * 1000000 // greatest(st.n_merged, 1))::BIGINT
         AS jaccard_micro
FROM ns, l1, st, rh
"""

QUERIES["sketch_drift_report"] = sketch_drift_report
ORACLES["sketch_drift_report"] = SKETCH_DRIFT_REPORT_SQL


# ===========================================================================
# layout family (operators/layout.py) — Z-order (Morton) multi-dimensional
# clustering and its measured file-skipping benefit.  The gates model the
# full mechanism end-to-end: layout order → equal-count "files" (ntile,
# the cross-engine-deterministic analogue of repartitionByRange) →
# per-file min/max (the parquet footer) → box-overlap prune.  All-BIGINT.
# ===========================================================================

LAYOUT_BITS = 8  # per-dimension resolution AFTER min-max normalization
LAYOUT_FILES = 64
_DAY_NS = 86_400_000_000_000


def _z_sql(x: str, y: str, bits: int) -> str:
    """Shared-arithmetic Morton interleave of two NON-NEGATIVE in-range
    ints (bit i of x → 2i, of y → 2i+1), spelled with // and % only —
    truncating and flooring agree on the non-negative domain, so this
    text is exact on DuckDB and mirrors z_value's shift/mask chain."""
    terms = []
    for i in range(bits):
        terms.append(f"(({x}) // {1 << i}) % 2 * {1 << (2 * i)}")
        terms.append(f"(({y}) // {1 << i}) % 2 * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def _layout_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as (event_id, x=user_id, y=epoch day, z) where z is the
    NORMALIZED Morton key (each dim min-max scaled to 8 bits before
    interleaving — zorder_key's semantics; raw interleave degenerates
    when the dims carry unequal entropy, see operators/layout.py)."""
    from qdrant_datafusion_spark.operators.layout import zorder_key

    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    base = ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("x"),
        _floor_div("ts", _DAY_NS).cast("bigint").alias("y"),
    )
    return zorder_key(base, ["x", "y"], bits=LAYOUT_BITS).select(
        "event_id", "x", "y", "z"
    )


_LAYOUT_TOP = (1 << LAYOUT_BITS) - 1

_LAYOUT_BASE_SQL = f"""
base AS MATERIALIZED (
  SELECT event_id, user_id::BIGINT AS x,
         {_floor_div_sql("epoch_ns(ts)", _DAY_NS)}::BIGINT AS y
  FROM events WHERE user_id IS NOT NULL
),
sc AS (SELECT min(x) AS xlo0, max(x) AS xhi0,
              min(y) AS ylo0, max(y) AS yhi0 FROM base),
nb AS (
  SELECT event_id, x, y,
         CASE WHEN xhi0 > xlo0
              THEN (x - xlo0) * {_LAYOUT_TOP} // (xhi0 - xlo0) ELSE 0 END AS xs,
         CASE WHEN yhi0 > ylo0
              THEN (y - ylo0) * {_LAYOUT_TOP} // (yhi0 - ylo0) ELSE 0 END AS ys
  FROM base, sc
),
bz AS MATERIALIZED (
  SELECT event_id, x, y, {_z_sql("xs", "ys", LAYOUT_BITS)}::BIGINT AS z
  FROM nb
)"""


def layout_zvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct value gate for the Morton interleave: (event_id, x, y, z)
    for the first 200 events — any bit placed wrong changes z."""
    return (
        _layout_base(spark, sf_dir)
        .where(F.col("event_id") < 200)
        .orderBy("event_id")
    )


LAYOUT_ZVALUE_SQL = f"""
WITH {_LAYOUT_BASE_SQL}
SELECT event_id, x, y, z FROM bz WHERE event_id < 200 ORDER BY event_id
"""

QUERIES["layout_zvalue"] = layout_zvalue
ORACLES["layout_zvalue"] = LAYOUT_ZVALUE_SQL


def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruning-benefit measurement: lay events out three ways —
    ``natural`` (arrival order), ``bydim`` (sorted by x only),
    ``zorder`` (Morton order) — cut each into 64 equal-count files,
    and count how many files a 2-D box predicate (middle quarter of
    the x range × first quarter of the day range, bounds derived from
    the data so the gate is SF-independent) must read under footer
    min/max pruning.  Z-order should touch the fewest: it is the only
    layout whose files are compact in BOTH dimensions."""
    from qdrant_datafusion_spark.operators.layout import (
        file_minmax,
        files_touched,
        layout_files,
    )

    base = _layout_base(spark, sf_dir)
    box = base.agg(
        F.max("x").alias("_xmax"), F.min("y").alias("_ymin"),
        F.max("y").alias("_ymax"),
    ).select(
        F.expr("_xmax div 4").alias("xlo"),
        F.expr("_xmax div 2").alias("xhi"),
        F.col("_ymin").alias("ylo"),
        F.expr("_ymin + (_ymax - _ymin) div 4").alias("yhi"),
    )
    rows = (
        base.crossJoin(F.broadcast(box))
        .where(
            F.col("x").between(F.col("xlo"), F.col("xhi"))
            & F.col("y").between(F.col("ylo"), F.col("yhi"))
        )
        .agg(F.count("*").cast("bigint").alias("rows_matched"))
    )
    overlap = {
        "x": (F.col("xlo"), F.col("xhi")),
        "y": (F.col("ylo"), F.col("yhi")),
    }
    parts = []
    for name, order in [
        ("bydim", [F.col("x"), F.col("event_id")]),
        ("natural", [F.col("event_id")]),
        ("zorder", [F.col("z"), F.col("event_id")]),
    ]:
        mm = file_minmax(
            layout_files(base, order, LAYOUT_FILES), "file_id", ["x", "y"]
        )
        parts.append(
            mm.crossJoin(F.broadcast(box)).agg(
                F.lit(name).alias("layout"),
                F.lit(LAYOUT_FILES).cast("bigint").alias("files_total"),
                F.sum(
                    F.when(files_touched(mm, overlap), 1).otherwise(0)
                ).cast("bigint").alias("files_touched"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(rows)).orderBy("layout")


def _layout_prune_arm_sql(name: str, order: str) -> str:
    return f"""
SELECT '{name}' AS layout, {LAYOUT_FILES}::BIGINT AS files_total,
       (SELECT count(*) FROM (
          SELECT f, min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y
          FROM (SELECT *, ntile({LAYOUT_FILES}) OVER (ORDER BY {order}) AS f
                FROM bz) GROUP BY f) mm, box
        WHERE mm.min_x <= box.xhi AND mm.max_x >= box.xlo
          AND mm.min_y <= box.yhi AND mm.max_y >= box.ylo
       )::BIGINT AS files_touched,
       (SELECT count(*) FROM bz, box
        WHERE x BETWEEN box.xlo AND box.xhi
          AND y BETWEEN box.ylo AND box.yhi)::BIGINT AS rows_matched
"""


LAYOUT_ZORDER_PRUNE_SQL = f"""
WITH {_LAYOUT_BASE_SQL},
bx AS (SELECT max(x) AS xmax, min(y) AS ymin, max(y) AS ymax FROM bz),
box AS MATERIALIZED (
  SELECT xmax // 4 AS xlo, xmax // 2 AS xhi,
         ymin AS ylo, ymin + (ymax - ymin) // 4 AS yhi
  FROM bx
)
{_layout_prune_arm_sql("bydim", "x, event_id")}
UNION ALL
{_layout_prune_arm_sql("natural", "event_id")}
UNION ALL
{_layout_prune_arm_sql("zorder", "z, event_id")}
ORDER BY layout
"""

QUERIES["layout_zorder_prune"] = layout_zorder_prune
ORACLES["layout_zorder_prune"] = LAYOUT_ZORDER_PRUNE_SQL


def _hilbert_sql_stages(src: str, bits: int) -> str:
    """The DuckDB twin of operators.layout.hilbert_value: the per-bit
    rotate/reflect walk unrolled into one CTE stage per bit (SQL has no
    fold; the chain is linear in ``bits`` because each stage references
    named columns, never re-inlined subtrees).  ``src`` must provide
    in-range ``xs``/``ys``; the last stage ``h{bits}`` carries ``hd``."""
    parts = [f"h0 AS (SELECT *, xs AS hx, ys AS hy, 0::BIGINT AS hd FROM {src})"]
    n = 1 << bits  # canonical full-grid reflection keeps hx/hy in [0, n)
    for j, i in enumerate(range(bits - 1, -1, -1), start=1):
        s = 1 << i
        parts.append(f"""h{j} AS (
  SELECT * EXCLUDE (hx, hy, hd, rx, ry),
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {n - 1} - hy ELSE hy END)
              ELSE hx END AS hx,
         CASE WHEN ry = 0
              THEN (CASE WHEN rx = 1 THEN {n - 1} - hx ELSE hx END)
              ELSE hy END AS hy,
         hd + {s * s} * (CASE WHEN rx = 1 AND ry = 1 THEN 2
                              WHEN rx = 1 THEN 3
                              WHEN ry = 1 THEN 1 ELSE 0 END) AS hd
  FROM (SELECT *, (hx // {s}) % 2 AS rx, (hy // {s}) % 2 AS ry FROM h{j - 1})
)""")
    return ",\n".join(parts)


#: base + scaling + BOTH curve keys: bz(event_id, x, y, z, h) — named
#: ``bz`` so _layout_prune_arm_sql's arms work over it unchanged.
_LAYOUT_HZ_SQL = f"""
base AS MATERIALIZED (
  SELECT event_id, user_id::BIGINT AS x,
         {_floor_div_sql("epoch_ns(ts)", _DAY_NS)}::BIGINT AS y
  FROM events WHERE user_id IS NOT NULL
),
sc AS (SELECT min(x) AS xlo0, max(x) AS xhi0,
              min(y) AS ylo0, max(y) AS yhi0 FROM base),
nb AS (
  SELECT event_id, x, y,
         CASE WHEN xhi0 > xlo0
              THEN (x - xlo0) * {_LAYOUT_TOP} // (xhi0 - xlo0) ELSE 0 END AS xs,
         CASE WHEN yhi0 > ylo0
              THEN (y - ylo0) * {_LAYOUT_TOP} // (yhi0 - ylo0) ELSE 0 END AS ys
  FROM base, sc
),
{_hilbert_sql_stages("nb", LAYOUT_BITS)},
bz AS MATERIALIZED (
  SELECT event_id, x, y, {_z_sql("xs", "ys", LAYOUT_BITS)}::BIGINT AS z,
         hd AS h
  FROM h{LAYOUT_BITS}
)"""


def _layout_base_hz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as (event_id, x, y, z, h): the zorder base plus the
    normalized Hilbert key over the same scaled dimensions."""
    from qdrant_datafusion_spark.operators.layout import hilbert_key

    return hilbert_key(
        _layout_base(spark, sf_dir), ["x", "y"], bits=LAYOUT_BITS
    ).select("event_id", "x", "y", "z", "h")


def layout_hilbert_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct value gate for the Hilbert walk: (event_id, x, y, h) for
    the first 200 events against the unrolled per-bit CTE oracle — any
    misplaced reflect/transpose changes h.  The Spark side is ONE
    ``aggregate`` fold expression (operators/layout.py:hilbert_value):
    no UDF, no per-bit expression unrolling."""
    return (
        _layout_base_hz(spark, sf_dir)
        .select("event_id", "x", "y", "h")
        .where(F.col("event_id") < 200)
        .orderBy("event_id")
    )


LAYOUT_HILBERT_VALUE_SQL = f"""
WITH {_LAYOUT_HZ_SQL}
SELECT event_id, x, y, h FROM bz WHERE event_id < 200 ORDER BY event_id
"""

QUERIES["layout_hilbert_value"] = layout_hilbert_value
ORACLES["layout_hilbert_value"] = LAYOUT_HILBERT_VALUE_SQL


def layout_hilbert_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Morton head-to-head on the pruning harness: the same
    64 equal-count file cuts and the same 2-D box predicate as
    layout_zorder_prune, with a ``hilbert`` arm alongside ``bydim`` and
    ``zorder``.  Hilbert's no-diagonal-jumps walk gives each file a
    tighter bounding box than Morton's quadrant jumps, so it should
    touch at most as many files — the gate publishes the measured
    counts cross-engine rather than asserting the inequality (it is a
    property of the data's entropy split, not an invariant)."""
    from qdrant_datafusion_spark.operators.layout import (
        file_minmax,
        files_touched,
        layout_files,
    )

    # base feeds the box derivation, the row count, and three layout
    # arms — pin it once (same width as events, computed once)
    base = _layout_base_hz(spark, sf_dir).localCheckpoint(eager=False)
    box = base.agg(
        F.max("x").alias("_xmax"), F.min("y").alias("_ymin"),
        F.max("y").alias("_ymax"),
    ).select(
        F.expr("_xmax div 4").alias("xlo"),
        F.expr("_xmax div 2").alias("xhi"),
        F.col("_ymin").alias("ylo"),
        F.expr("_ymin + (_ymax - _ymin) div 4").alias("yhi"),
    )
    rows = (
        base.crossJoin(F.broadcast(box))
        .where(
            F.col("x").between(F.col("xlo"), F.col("xhi"))
            & F.col("y").between(F.col("ylo"), F.col("yhi"))
        )
        .agg(F.count("*").cast("bigint").alias("rows_matched"))
    )
    overlap = {
        "x": (F.col("xlo"), F.col("xhi")),
        "y": (F.col("ylo"), F.col("yhi")),
    }
    parts = []
    for name, order in [
        ("bydim", [F.col("x"), F.col("event_id")]),
        ("hilbert", [F.col("h"), F.col("event_id")]),
        ("zorder", [F.col("z"), F.col("event_id")]),
    ]:
        mm = file_minmax(
            layout_files(base, order, LAYOUT_FILES), "file_id", ["x", "y"]
        )
        parts.append(
            mm.crossJoin(F.broadcast(box)).agg(
                F.lit(name).alias("layout"),
                F.lit(LAYOUT_FILES).cast("bigint").alias("files_total"),
                F.sum(
                    F.when(files_touched(mm, overlap), 1).otherwise(0)
                ).cast("bigint").alias("files_touched"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(rows)).orderBy("layout")


LAYOUT_HILBERT_PRUNE_SQL = f"""
WITH {_LAYOUT_HZ_SQL},
bx AS (SELECT max(x) AS xmax, min(y) AS ymin, max(y) AS ymax FROM bz),
box AS MATERIALIZED (
  SELECT xmax // 4 AS xlo, xmax // 2 AS xhi,
         ymin AS ylo, ymin + (ymax - ymin) // 4 AS yhi
  FROM bx
)
{_layout_prune_arm_sql("bydim", "x, event_id")}
UNION ALL
{_layout_prune_arm_sql("hilbert", "h, event_id")}
UNION ALL
{_layout_prune_arm_sql("zorder", "z, event_id")}
ORDER BY layout
"""

QUERIES["layout_hilbert_prune"] = layout_hilbert_prune
ORACLES["layout_hilbert_prune"] = LAYOUT_HILBERT_PRUNE_SQL


# ===========================================================================
# Round 9 session 4 — CDC / data-platform state management: changelog →
# snapshot (MERGE-INTO "latest wins"), changelog → SCD Type-2 history,
# snapshot ↔ snapshot audit diff.  The maintain-don't-rebuild half of a
# 100 TB corpus; see operators/cdc.py for the one-shuffle designs.
# ===========================================================================

_EV_CDC_COLS = """user_id, epoch_ns(ts) AS ts, event_id, event_type,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v_micro"""


def _events_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a per-user changelog: ns timestamps (via `_events`),
    fixed-point value micros, `event_type` as the operation column with
    'error' playing the tombstone role (a user whose LATEST event is an
    error drops out of the current state — the crawler-refetch-failed
    shape)."""
    return _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias(
            "v_micro"
        ),
    )


def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current state of the per-user changelog: latest (ts, event_id) row
    per user, users whose latest operation is an 'error' tombstoned.
    ONE key exchange + in-partition sort (row_number take-1) — the
    MERGE-INTO latest-wins kernel; see cdc.cdc_latest_snapshot."""
    from qdrant_datafusion_spark.operators.cdc import cdc_latest_snapshot

    ev = _events_cdc(spark, sf_dir)
    return cdc_latest_snapshot(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
    )


CDC_LATEST_STATE_SQL = f"""
WITH e AS (
  SELECT {_EV_CDC_COLS}
  FROM events
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, ts, event_id, event_type, v_micro
FROM r WHERE rn = 1 AND event_type <> 'error'
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history of the same changelog: one version
    row per non-error event with [valid_from, valid_to) validity —
    the NEXT event of any type (including an error tombstone) closes
    the interval; NULL valid_to + is_current marks open versions.
    Shares the snapshot's single key exchange; `lead` evaluates in the
    same sorted run.  See cdc.scd2_history."""
    from qdrant_datafusion_spark.operators.cdc import scd2_history

    ev = _events_cdc(spark, sf_dir)
    return scd2_history(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "v_micro",
        "valid_from",
        "valid_to",
        "is_current",
    )


CDC_SCD2_SQL = f"""
WITH e AS (
  SELECT {_EV_CDC_COLS}
  FROM events
),
h AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS valid_to
  FROM e
)
SELECT user_id, event_id, event_type, v_micro,
       ts AS valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM h WHERE event_type <> 'error'
"""


def cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit diff of two synthetic snapshots of `orders`: the "old" run
    is missing keys ≡3 (mod 11), the "new" run is missing keys ≡5
    (mod 13) and rewrote `o_orderpriority` for keys ≡0 (mod 17) —
    added / removed / changed verdicts with the exact changed-column
    list, unchanged rows dropped.  ONE full-outer key join, verdicts a
    pure projection; see cdc.table_diff.  The library operator returns
    `changed_cols` as a typed array<string>; the gate flattens it to a
    sorted comma-joined string because the driver's pandas canonicalizer
    cannot hash list cells (round-9 red row)."""
    from qdrant_datafusion_spark.operators.cdc import table_diff

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 3).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    new = orders.filter(F.col("o_orderkey") % 13 != 5).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("AUDIT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    return table_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_orderpriority"]
    ).withColumn(
        "changed_cols", F.array_join(F.array_sort("changed_cols"), ",")
    )


CDC_TABLE_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 11 <> 3
),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 17 = 0 THEN 'AUDIT'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 13 <> 5
),
j AS (
  SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                THEN 'changed'
              ELSE 'unchanged' END AS status,
         list_filter([
           CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'o_orderpriority' END
         ], x -> x IS NOT NULL) AS diff_cols
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, status,
       coalesce(array_to_string(
         list_sort(CASE WHEN status = 'changed' THEN diff_cols
                        ELSE CAST([] AS VARCHAR[]) END),
         ','), '') AS changed_cols
FROM j WHERE status <> 'unchanged'
"""

def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi join: lineitem pruned to urgent finished
    orders through a 128 KB Bloom bitmap + exact verify (the explicit
    form of Spark's runtime bloomFilter rewrite — the fact side never
    shuffles before the prefilter), then the Q1-shaped aggregate over
    the survivors.  joins.bloom_semi_join carries the scale argument:
    the bitmap is fixed-size however many dim keys there are."""
    from qdrant_datafusion_spark.operators.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, dim, "l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_qty"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("sum_revenue"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


Q_BLOOM_SEMI_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,6))::DOUBLE, 2) AS sum_qty,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::DOUBLE, 2)
         AS sum_revenue,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
)
GROUP BY l_returnflag, l_linestatus
"""


def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anti twin: lineitem rows whose order is NOT urgent-finished —
    rows failing any Bloom bit test short-circuit out map-side as
    definite non-matches; only the candidate residue pays the exact
    anti join.  Same aggregate shape as the semi gate."""
    from qdrant_datafusion_spark.operators.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, dim, "l_orderkey", how="anti")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_qty"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


Q_BLOOM_ANTI_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity::DECIMAL(18,6))::DOUBLE, 2) AS sum_qty,
       count(*)::BIGINT AS n_rows
FROM lineitem
WHERE l_orderkey NOT IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
)
GROUP BY l_returnflag, l_linestatus
"""

def pipeline_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-shaped one-pass constraint audit of `orders`: completeness,
    inclusive range, accepted vocabulary, regex pattern, key uniqueness
    — all compiled into ONE aggregation over one scan — plus a
    foreign-key-closure check against `customer` (one anti-join count).
    Deliberately mixed outcomes on the synthetic data (the range /
    vocabulary / pattern checks fail with real violation counts) so the
    gate grades the counting, not just zeros.  operators/validate.py."""
    from qdrant_datafusion_spark.operators.validate import (
        validate_constraints,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return validate_constraints(
        orders,
        not_null=["o_custkey"],
        ranges={"o_totalprice": (0.0, 300000.0)},
        accepted={"o_orderstatus": ["F", "O"]},
        patterns={"o_orderpriority": "^[1-3]-"},
        unique=["o_orderkey"],
        referential=[("o_custkey", customer, "c_custkey")],
    )


PIPELINE_VALIDATE_SQL = """
WITH s AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn,
         sum(CASE WHEN o_totalprice IS NOT NULL
                   AND NOT (o_totalprice >= 0.0 AND o_totalprice <= 300000.0)
                  THEN 1 ELSE 0 END)::BIGINT AS v_rng,
         sum(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('F', 'O')
                  THEN 1 ELSE 0 END)::BIGINT AS v_acc,
         sum(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
                  THEN 1 ELSE 0 END)::BIGINT AS v_pat,
         (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT AS v_uni
  FROM orders
),
r AS (
  SELECT count(*)::BIGINT AS v_ref
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
)
SELECT 'not_null' AS "check", 'o_custkey' AS "column",
       v_nn AS n_violations, n AS n_rows, v_nn = 0 AS passed FROM s
UNION ALL
SELECT 'range', 'o_totalprice', v_rng, n, v_rng = 0 FROM s
UNION ALL
SELECT 'accepted_values', 'o_orderstatus', v_acc, n, v_acc = 0 FROM s
UNION ALL
SELECT 'pattern', 'o_orderpriority', v_pat, n, v_pat = 0 FROM s
UNION ALL
SELECT 'unique', 'o_orderkey', v_uni, n, v_uni = 0 FROM s
UNION ALL
SELECT 'referential', 'o_custkey', v_ref, n, v_ref = 0 FROM s, r
"""

def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: documents with doc_id ≡ 0 (mod 10) play
    the NEW BATCH, the rest the standing corpus — every near-dup pair
    involving a batch doc (batch×corpus and batch×batch), found without
    re-pairing the corpus against itself.  The oracle is the exact
    Jaccard pair set restricted to batch-involving pairs, so the gate
    asserts full recall of the incremental path at the same banding the
    full gate uses.  FIXTURE DEPENDENCE (by design): 16 bands × 2 rows
    catches a pair at the J=0.2 threshold only probabilistically
    (~48%); the gate is exact-vs-oracle only because the fixture's
    near-dup pairs sit well above the banding's high-recall region
    (J ≥ 0.5).  If this gate ever reds after a FIXTURE change, check
    whether a new pair landed just above 0.2 before suspecting the
    operator.  See dedup.minhash_incremental_dups for the
    persisted-signature-table scale story."""
    from qdrant_datafusion_spark.operators.dedup import (
        minhash_incremental_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # per-doc independence: the corpus/batch bucket tables are _id
    # filters of the ONE memoized corpus-wide table — exactly the
    # persisted-signature-table production pattern
    all_b = _doc_minhash_buckets(spark, sf_dir)
    pairs = minhash_incremental_dups(
        corpus, batch, "text", "doc_id",
        k=3, num_hashes=32, bands=16, threshold=0.2,
        max_bucket_size=None,
        corpus_buckets=all_b.filter(F.col("_id") % 10 != 0),
        batch_buckets=all_b.filter(F.col("_id") % 10 == 0),
    )
    return pairs.select(
        "id_a",
        "id_b",
        _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard"),
    )


DEDUP_MINHASH_INCR_SQL = _SHINGLES_SQL + f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {_ratio6_sql(_J_INTER, _J_UNION)} AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {_J_INTER} > 0
  AND {_J_INTER}::DOUBLE / {_J_UNION} >= 0.2
  AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
"""

def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join: purchases ⋈ same-user
    clicks within the preceding 6 hours, as a REAL two-branch streaming
    self-join over a 2-file re-layout with maxFilesPerTrigger=1 — pairs
    whose sides arrive in different micro-batches must meet through the
    join STATE.  Watermark (40 days) exceeds the fixture span (30 days),
    so nothing evicts and the appended set equals the batch join
    whatever the file split; see streaming/ingest.stream_interval_join
    for the bounded-state production contract."""
    import shutil
    import tempfile

    from qdrant_datafusion_spark.streaming.ingest import (
        stream_interval_join,
    )

    ev = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="sg_stream_ij_")
    src = os.path.join(tmp, "src")
    ev.repartition(2).write.parquet(src)
    try:
        def branch(etype: str) -> DataFrame:
            return (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .filter(F.col("event_type") == etype)
                .select(
                    "user_id",
                    F.col("ts").cast("timestamp").alias("ts"),
                    "event_id",
                )
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
        sink = _run_stream_to_table(out, spark, "ij", "append")
        sink.collect()  # drain before the finally deletes the source
        return sink
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_INTERVAL_JOIN_SQL = """
SELECT p.user_id AS user_id, p.event_id AS purchase_id,
       c.event_id AS click_id,
       ((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000)::BIGINT AS lag_s
FROM events p JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts BETWEEN p.ts - INTERVAL 6 HOUR AND p.ts
"""

def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity blocking: documents ranked by their
    normalized 24-char prefix, every pair within 8 ranks verified by
    exact 3-shingle Jaccard ≥ 0.2 — the ER blocking method that catches
    prefix-sorting near-dups with candidate mass ≤ 7·N by construction
    (two-phase global rank, equi-join on rank div window; see
    dedup.sorted_neighborhood_pairs)."""
    from qdrant_datafusion_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = sorted_neighborhood_pairs(
        docs,
        F.substring(F.lower(F.trim(F.col("text"))), 1, 24),
        "doc_id",
        window=8,
        content_col="text",
        k=3,
    )
    return pairs.filter(
        (F.col("n_union") > 0)
        & (F.col("inter").cast("double") / F.col("n_union") >= 0.2)
    ).select(
        "id_a",
        "id_b",
        "rank_dist",
        _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard"),
    )


DEDUP_SORTED_NEIGHBORHOOD_SQL = _SHINGLES_SQL + f""",
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY substr(lower(trim(text)), 1, 24),
                            doc_id) AS rk
  FROM documents
),
cand AS (
  SELECT x.doc_id AS ida, y.doc_id AS idb, (y.rk - x.rk)::BIGINT AS rank_dist
  FROM r x JOIN r y ON y.rk BETWEEN x.rk + 1 AND x.rk + 7
)
SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b, rank_dist,
       {_ratio6_sql(_J_INTER, _J_UNION)} AS jaccard
FROM cand
JOIN sh a ON a.doc_id = cand.ida
JOIN sh b ON b.doc_id = cand.idb
WHERE {_J_UNION} > 0
  AND {_J_INTER}::DOUBLE / {_J_UNION} >= 0.2
"""

def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier detection: |x − median| > 1.5·MAD over
    fixed-point value micros — lower medians (selected elements, never
    interpolated) and a cross-multiplied threshold keep every number an
    exact integer on both engines.  One key exchange, three in-place
    window re-sorts; see temporal.robust_anomalies."""
    from qdrant_datafusion_spark.operators.temporal import (
        robust_anomalies,
    )

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias(
            "v_micro"
        ),
    )
    return (
        robust_anomalies(ev, "user_id", "v_micro", "event_id")
        .filter(F.col("is_anomaly"))
        .select("user_id", "event_id", "v_micro", "med", "dev", "mad")
    )


Q_EVENTS_ANOMALIES_SQL = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
  FROM events
),
s AS (
  SELECT *, count(*) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY v, event_id) AS rn
  FROM e
),
m AS (
  SELECT *, max(CASE WHEN rn * 2 = (n + 1) - (n + 1) % 2 THEN v END)
              OVER (PARTITION BY user_id) AS med
  FROM s
),
d AS (
  SELECT *, abs(v - med) AS dev,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(v - med), event_id) AS rn2
  FROM m
),
t AS (
  SELECT *, max(CASE WHEN rn2 * 2 = (n + 1) - (n + 1) % 2 THEN dev END)
              OVER (PARTITION BY user_id) AS mad
  FROM d
)
SELECT user_id, event_id, v AS v_micro, med, dev, mad
FROM t WHERE dev * 2 > mad * 3
"""

QUERIES["q_events_anomalies"] = q_events_anomalies
ORACLES["q_events_anomalies"] = Q_EVENTS_ANOMALIES_SQL

QUERIES["dedup_sorted_neighborhood"] = dedup_sorted_neighborhood
ORACLES["dedup_sorted_neighborhood"] = DEDUP_SORTED_NEIGHBORHOOD_SQL

QUERIES["streaming_interval_join"] = streaming_interval_join
ORACLES["streaming_interval_join"] = STREAMING_INTERVAL_JOIN_SQL

QUERIES["dedup_minhash_incremental"] = dedup_minhash_incremental
ORACLES["dedup_minhash_incremental"] = DEDUP_MINHASH_INCR_SQL

QUERIES["pipeline_validate"] = pipeline_validate
ORACLES["pipeline_validate"] = PIPELINE_VALIDATE_SQL

QUERIES["q_bloom_semi_join"] = q_bloom_semi_join
ORACLES["q_bloom_semi_join"] = Q_BLOOM_SEMI_SQL
QUERIES["q_bloom_anti_join"] = q_bloom_anti_join
ORACLES["q_bloom_anti_join"] = Q_BLOOM_ANTI_SQL

QUERIES["cdc_latest_state"] = cdc_latest_state
ORACLES["cdc_latest_state"] = CDC_LATEST_STATE_SQL
QUERIES["cdc_scd2_history"] = cdc_scd2_history
ORACLES["cdc_scd2_history"] = CDC_SCD2_SQL
QUERIES["cdc_table_diff"] = cdc_table_diff
ORACLES["cdc_table_diff"] = CDC_TABLE_DIFF_SQL


def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO an existing snapshot (cdc.apply_changes): orders with
    o_orderkey % 7 != 3 play the standing snapshot; keys % 5 == 0 get a
    synthetic changeset — seq 1 upserts priority 'CHG1' for every such
    key, seq 2 (even keys only) is a DELETE where the key % 3 == 0 and
    an upsert to 'CHG2' otherwise — so latest-wins ordering, tombstones,
    pass-through rows, AND inserts of keys absent from the snapshot
    (% 7 == 3 keys in the changeset) are all exercised in one gate.
    ONE delta-sized window + one snapshot-touching anti-join + union."""
    from qdrant_datafusion_spark.operators.cdc import apply_changes

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    snapshot = orders.filter(F.col("o_orderkey") % 7 != 3)
    base = orders.filter(F.col("o_orderkey") % 5 == 0)
    c1 = base.select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("CHG1").alias("o_orderpriority"),
        F.lit(1).alias("seq"),
        F.lit("upsert").alias("op"),
    )
    c2 = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("CHG2").alias("o_orderpriority"),
        F.lit(2).alias("seq"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    out = apply_changes(
        snapshot,
        c1.unionByName(c2),
        ["o_orderkey"],
        ["seq"],
        op_col="op",
    )
    return out.select("o_orderkey", "o_orderstatus", "o_orderpriority")


CDC_APPLY_CHANGES_SQL = """
WITH snap AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 7 <> 3
),
base AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 5 = 0
),
chg AS (
  SELECT o_orderkey, o_orderstatus, 'CHG1' AS o_orderpriority,
         1 AS seq, 'upsert' AS op
  FROM base
  UNION ALL
  SELECT o_orderkey, o_orderstatus, 'CHG2' AS o_orderpriority,
         2 AS seq,
         CASE WHEN o_orderkey % 3 = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM base WHERE o_orderkey % 2 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC) AS rn
    FROM chg) WHERE rn = 1
)
SELECT s.o_orderkey, s.o_orderstatus, s.o_orderpriority
FROM snap s
WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
UNION ALL
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM latest WHERE op <> 'delete'
"""

QUERIES["cdc_apply_changes"] = cdc_apply_changes
ORACLES["cdc_apply_changes"] = CDC_APPLY_CHANGES_SQL


def dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join: all document pairs whose
    ASCII-normalized 40-char prefix keys are within levenshtein
    distance 2 — typo/OCR-tolerant fuzzy record linkage.  PassJoin
    pigeonhole (d+1 segments vs ±d-shifted probe substrings) turns the
    quadratic all-pairs into ONE equi-join with constant fan-out; exact
    levenshtein verifies the residue, so the result equals brute force
    (proven vs a crossJoin in TestEditDistancePairs).  Keys are
    ASCII-stripped because DuckDB's levenshtein counts BYTE edits and
    Spark's counts CHARACTER edits — they agree only on ASCII; see
    operators/fuzzy.py."""
    from qdrant_datafusion_spark.operators.fuzzy import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    key = F.expr(
        "substring(trim(regexp_replace(regexp_replace(lower(text),"
        " '[^ -~]', ''), ' +', ' ')), 1, 40)"
    )
    base = docs.select("doc_id", key.alias("fkey")).filter(
        F.length("fkey") >= 12
    )
    return edit_distance_pairs(base, "fkey", "doc_id", max_dist=2)


# The oracle mirrors the pigeonhole CANDIDATE generation (provably a
# superset of true pairs: <=d edits leave >=1 of d+1 segments intact,
# shifted <=d) and applies the same exact-levenshtein verify, so both
# engines compute brute force semantics without the O(n^2) join;
# independence from the operator is covered by the brute-force
# crossJoin unit test (the CTE was itself validated against an
# all-pairs DuckDB join at both SFs before being trusted).
DEDUP_FUZZY_PAIRS_SQL = """
WITH kk AS (
  SELECT doc_id,
         substr(trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS s
  FROM documents
),
f AS (SELECT doc_id, s, length(s)::BIGINT AS l FROM kk WHERE length(s) >= 12),
seg AS (
  SELECT doc_id AS ida, s AS sa, l AS la, i.i AS i,
         substr(s, (i.i*(l//3) + greatest(0, i.i-(3-(l%3))))::INTEGER + 1,
                   ((l//3) + CASE WHEN i.i >= 3-(l%3) THEN 1 ELSE 0 END)::INTEGER) AS piece
  FROM f, unnest(generate_series(0,2)) AS i(i)
),
pr AS (
  SELECT f.doc_id AS idb, f.s AS sb, f.l AS m, ll.l AS pl, i.i AS i,
         substr(f.s, p.p::INTEGER + 1,
                ((ll.l//3) + CASE WHEN i.i >= 3-(ll.l%3) THEN 1 ELSE 0 END)::INTEGER) AS piece
  FROM f,
       unnest(generate_series(greatest(3, f.l-2), f.l)) AS ll(l),
       unnest(generate_series(0,2)) AS i(i),
       unnest(generate_series(
         greatest(0, (i.i*(ll.l//3) + greatest(0, i.i-(3-(ll.l%3)))) - 2),
         least(f.l - ((ll.l//3) + CASE WHEN i.i >= 3-(ll.l%3) THEN 1 ELSE 0 END),
               (i.i*(ll.l//3) + greatest(0, i.i-(3-(ll.l%3)))) + 2))) AS p(p)
),
cand AS (
  SELECT DISTINCT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b, sa, sb
  FROM seg JOIN pr ON seg.piece = pr.piece AND seg.i = pr.i AND seg.la = pr.pl
  WHERE la < m OR (la = m AND ida < idb)
)
SELECT id_a, id_b, levenshtein(sa, sb)::BIGINT AS dist
FROM cand
WHERE levenshtein(sa, sb) <= 2
"""


def pipeline_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over orders: which candidate
    column contracts (A determines B) actually hold?  Candidates
    sharing a determinant share one groupBy — one shuffle per distinct
    determinant, folded to one summary row per candidate; see
    validate.discover_fds."""
    from qdrant_datafusion_spark.operators.validate import discover_fds

    orders = _t(spark, sf_dir, "orders")
    return discover_fds(
        orders,
        [
            ("o_orderkey", "o_custkey"),
            ("o_orderkey", "o_totalprice"),
            ("o_custkey", "o_orderstatus"),
            ("o_orderstatus", "o_orderpriority"),
        ],
    )


PIPELINE_FD_AUDIT_SQL = """
WITH g1 AS (SELECT o_orderkey AS det,
                   count(DISTINCT o_custkey) AS d1,
                   count(DISTINCT o_totalprice) AS d2 FROM orders GROUP BY 1),
     g2 AS (SELECT o_custkey AS det,
                   count(DISTINCT o_orderstatus) AS d1 FROM orders GROUP BY 1),
     g3 AS (SELECT o_orderstatus AS det,
                   count(DISTINCT o_orderpriority) AS d1 FROM orders GROUP BY 1)
SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END) = 0 AS holds FROM g1
UNION ALL
SELECT 'o_orderkey', 'o_totalprice', count(*)::BIGINT,
       sum(CASE WHEN d2 > 1 THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN d2 > 1 THEN 1 ELSE 0 END) = 0 FROM g1
UNION ALL
SELECT 'o_custkey', 'o_orderstatus', count(*)::BIGINT,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END) = 0 FROM g2
UNION ALL
SELECT 'o_orderstatus', 'o_orderpriority', count(*)::BIGINT,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END)::BIGINT,
       sum(CASE WHEN d1 > 1 THEN 1 ELSE 0 END) = 0 FROM g3
"""


def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit on customer: quasi
    identifiers (nation, market segment), sensitive attribute "account
    in debt" (acctbal < 0).  One groupBy; output is group-cardinality
    sized.  See validate.k_anonymity_audit."""
    from qdrant_datafusion_spark.operators.validate import (
        k_anonymity_audit,
    )

    cust = _t(spark, sf_dir, "customer").withColumn(
        "in_debt", F.col("c_acctbal") < 0
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "in_debt", k=8, l=2
    )


PIPELINE_K_ANONYMITY_SQL = """
SELECT c_nationkey, c_mktsegment,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT c_acctbal < 0)::BIGINT AS n_sensitive,
       count(*) >= 8 AS k_anonymous,
       count(DISTINCT c_acctbal < 0) >= 2 AS l_diverse
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan over documents-by-source: reduce the
    data to a (source, rows, bytes) manifest with one aggregation, then
    assign sources to ~16 KiB output bins by exclusive-prefix-sum
    first-fit — the planning half of OPTIMIZE/coalesce, no data
    movement.  See layout.compaction_plan."""
    from qdrant_datafusion_spark.operators.layout import compaction_plan

    docs = _t(spark, sf_dir, "documents")
    return compaction_plan(docs, "source", F.octet_length("text"), 16384)


LAYOUT_COMPACTION_SQL = """
WITH m AS (
  SELECT source, count(*)::BIGINT AS n_rows,
         sum(strlen(text))::BIGINT AS bytes
  FROM documents GROUP BY source
),
c AS (
  SELECT *, coalesce(sum(bytes) OVER (ORDER BY source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM m
)
SELECT source, n_rows, bytes, (cum // 16384)::BIGINT AS bin FROM c
"""


QUERIES["dedup_fuzzy_pairs"] = dedup_fuzzy_pairs
ORACLES["dedup_fuzzy_pairs"] = DEDUP_FUZZY_PAIRS_SQL
QUERIES["pipeline_fd_audit"] = pipeline_fd_audit
ORACLES["pipeline_fd_audit"] = PIPELINE_FD_AUDIT_SQL
QUERIES["pipeline_k_anonymity"] = pipeline_k_anonymity
ORACLES["pipeline_k_anonymity"] = PIPELINE_K_ANONYMITY_SQL
QUERIES["layout_compaction_plan"] = layout_compaction_plan
ORACLES["layout_compaction_plan"] = LAYOUT_COMPACTION_SQL


def dedup_fuzzy_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup: edit-distance pairs of a NEW ingest
    batch (doc_id % 10 == 0) against corpus+batch — corpus-internal
    candidates are dropped before any levenshtein, so the increment
    pays batch-proportional work (the dedup_minhash_incremental
    contract, fuzzy edition).  Same PassJoin kernel as
    dedup_fuzzy_pairs."""
    from qdrant_datafusion_spark.operators.fuzzy import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents")
    key = F.expr(
        "substring(trim(regexp_replace(regexp_replace(lower(text),"
        " '[^ -~]', ''), ' +', ' ')), 1, 40)"
    )
    base = docs.select(
        "doc_id",
        key.alias("fkey"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    ).filter(F.length("fkey") >= 12)
    return edit_distance_pairs(
        base, "fkey", "doc_id", max_dist=2, new_col="is_new"
    )


DEDUP_FUZZY_INCR_SQL = DEDUP_FUZZY_PAIRS_SQL.replace(
    "WHERE la < m OR (la = m AND ida < idb)",
    "WHERE (la < m OR (la = m AND ida < idb))"
    " AND (ida % 10 = 0 OR idb % 10 = 0)",
)


def v_search_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: cosine top-10 using only the FIRST
    16 of 64 dims vs the full-dim top-10, overlap reported as
    recall@10 — the measurement a pipeline runs before committing to
    truncated-embedding prefiltering (truncate is a free projection;
    the question is always what it costs in recall).  Both tiers are
    the same deterministic rounded-score/id ranking as v_search_topk."""
    emb = _t(spark, sf_dir, "embeddings")

    def topk(vec_col, qv):
        return (
            emb.select(
                "vec_id",
                F.round(v_search(vec_col, qv, "cosine"), 6).alias("s"),
            )
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(10)
            .select("vec_id")
        )

    full = topk(F.col("embedding"), QUERY_VEC)
    trunc = topk(F.slice("embedding", 1, 16), QUERY_VEC[:16])
    return full.join(trunc, "vec_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    ).select(
        "n_overlap",
        F.round(F.col("n_overlap") / 10.0, 4).alias("recall16"),
    )


V_SEARCH_MATRYOSHKA_SQL = f"""
WITH q AS (SELECT {_sql_array(QUERY_VEC)}::DOUBLE[] AS qv,
                  {_sql_array(QUERY_VEC[:16])}::DOUBLE[] AS qv16),
fl AS (
  SELECT vec_id
  FROM embeddings, q
  ORDER BY round(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) DESC, vec_id ASC
  LIMIT 10
),
tr AS (
  SELECT vec_id
  FROM embeddings, q
  ORDER BY round(list_dot_product(embedding[1:16]::DOUBLE[], qv16)
                 / (sqrt(list_dot_product(embedding[1:16]::DOUBLE[], embedding[1:16]::DOUBLE[]))
                    * sqrt(list_dot_product(qv16, qv16))), 6) DESC, vec_id ASC
  LIMIT 10
)
SELECT count(*)::BIGINT AS n_overlap,
       round(count(*) / 10.0, 4) AS recall16
FROM fl JOIN tr USING (vec_id)
"""


def pipeline_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event types: each
    type's distribution is replaced by the pooled one (rank -> pooled
    value at ceil(r*N/n_g), selection-only so bit-identical across
    engines).  Two-phase global rank — no single-task sort; see
    pipeline.quantile_normalize."""
    from qdrant_datafusion_spark.operators.pipeline import (
        quantile_normalize,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return quantile_normalize(ev, "value", "event_type", "event_id")


PIPELINE_QNORM_SQL = """
WITH p AS (
  SELECT value AS pooled_val,
         row_number() OVER (ORDER BY value ASC, event_id ASC) AS pos
  FROM events
),
n AS (SELECT count(*) AS N FROM events),
g AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS r,
         count(*) OVER (PARTITION BY event_type) AS ng
  FROM events
)
SELECT g.event_id, g.event_type, g.value, p.pooled_val AS norm_value
FROM g CROSS JOIN n JOIN p ON p.pos = (g.r * n.N + g.ng - 1) // g.ng
"""


def pipeline_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: at most 30 docs per source, selected by
    the md5 coin — the anti-spam mixture stage.  One keyed window; see
    pipeline.source_cap."""
    from qdrant_datafusion_spark.operators.pipeline import source_cap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return source_cap(docs, "source", "doc_id", cap=30, seed="cap")


PIPELINE_SOURCE_CAP_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR || ':' || 'cap') ASC, doc_id ASC
         ) AS keep_rank
  FROM documents
)
SELECT doc_id, source, keep_rank FROM r WHERE keep_rank <= 30
"""


QUERIES["dedup_fuzzy_incremental"] = dedup_fuzzy_incremental
ORACLES["dedup_fuzzy_incremental"] = DEDUP_FUZZY_INCR_SQL
QUERIES["v_search_matryoshka"] = v_search_matryoshka
ORACLES["v_search_matryoshka"] = V_SEARCH_MATRYOSHKA_SQL
QUERIES["pipeline_quantile_normalize"] = pipeline_quantile_normalize
ORACLES["pipeline_quantile_normalize"] = PIPELINE_QNORM_SQL
QUERIES["pipeline_source_cap"] = pipeline_source_cap
ORACLES["pipeline_source_cap"] = PIPELINE_SOURCE_CAP_SQL


def _doc_prefix_token_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared (hashed token sets, rarest-first rank) tables over
    documents' 3-shingles, built once per (session, sf_dir) and eagerly
    pinned.  The two prefix-filter gates (dedup_jaccard_prefix,
    dedup_containment) share this first half: 3-shingle walk → xxhash64
    token sets → global token counts → rarest-first per-doc rank (the
    rank order is threshold-independent); the library seam is
    fuzzy.hashed_token_sets / fuzzy.ranked_token_index + the
    base=/ranked= parameters.  fan_out first: the shingle walk otherwise
    runs inside the one-task single-row-group scan stage
    (session.fan_out)."""
    from qdrant_datafusion_spark.operators.fuzzy import (
        hashed_token_sets,
        ranked_token_index,
    )

    def build(pin):
        docs = fan_out(
            _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
        )
        sh3 = docs.select("doc_id", word_shingles("text", 3).alias("sh3"))
        base = pin(hashed_token_sets(sh3, "sh3", "doc_id"), lineage=False)
        return base, pin(ranked_token_index(base), lineage=False)

    return shared_build(spark, ("prefix_tokens", sf_dir), build)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle Jaccard pairs at threshold 1/5 via prefix
    filtering (All-Pairs/PPJoin) — same semantics as dedup_ngram_jaccard
    but the join touches only PREFIX tokens (rarest-first global order),
    so hot shingles stay out of the candidate join; threshold applied as
    integer cross-multiplication, no float compare.  See
    fuzzy.set_similarity_pairs; independence from the brute-force oracle
    below is additionally proven by TestSetSimilarityPairs' random-set
    brute-force parity at four thresholds."""
    from qdrant_datafusion_spark.operators.fuzzy import (
        set_similarity_pairs,
    )

    base, ranked = _doc_prefix_token_tables(spark, sf_dir)
    pairs = set_similarity_pairs(
        None,
        "sh3",
        "doc_id",
        t_num=1,
        t_den=5,
        base=base,
        ranked=ranked,
    )
    return pairs.select(
        "id_a",
        "id_b",
        "inter",
        "n_union",
        _ratio_round6(F.col("inter"), F.col("n_union")).alias("jaccard"),
    )


DEDUP_JACCARD_PREFIX_SQL = _SHINGLES_SQL + f"""
, f AS (
  SELECT doc_id, shingles, len(shingles)::BIGINT AS n
  FROM sh WHERE len(shingles) >= 1
),
ex AS (SELECT doc_id, n, unnest(shingles) AS tok FROM f),
cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
pfx AS (
  SELECT doc_id, n, tok FROM (
    SELECT ex.doc_id, ex.n, ex.tok,
           row_number() OVER (PARTITION BY ex.doc_id
                              ORDER BY cnt.c ASC, ex.tok ASC) AS rn
    FROM ex JOIN cnt USING (tok)
  ) WHERE rn <= n - (n + 4) // 5 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE least(a.n, b.n) * 5 >= greatest(a.n, b.n)
),
v AS (
  SELECT id_a, id_b,
         len(list_intersect(fa.shingles, fb.shingles))::BIGINT AS inter,
         (fa.n + fb.n)::BIGINT AS sz
  FROM cand JOIN f fa ON fa.doc_id = cand.id_a
            JOIN f fb ON fb.doc_id = cand.id_b
)
SELECT id_a, id_b, inter, (sz - inter) AS n_union,
       {_ratio6_sql("inter", "sz - inter")} AS jaccard
FROM v WHERE inter * 5 >= sz - inter
"""

# The oracle mirrors the prefix-filter CANDIDATE generation (provably
# complete: the globally-first common token of any pair with J >= t
# lands inside both prefixes) and verifies with the same exact integer
# cross-multiplication, so both engines compute brute-force semantics
# without the all-pairs list_intersect (which needs >10 min of DuckDB
# time at sf0.1); independence from the operator is the brute-force
# crossJoin parity suite in TestSetSimilarityPairs.

QUERIES["dedup_jaccard_prefix"] = dedup_jaccard_prefix
ORACLES["dedup_jaccard_prefix"] = DEDUP_JACCARD_PREFIX_SQL


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment pairs at t=4/5: ordered (contained, container)
    document pairs where >=80% of the left doc's 3-shingles appear in
    the right doc — the asymmetric near-dup relation (truncated copies,
    quoted excerpts, embedded boilerplate) that Jaccard under-scores
    when the container is much larger.  One-sided prefix filtering: the
    contained side ships rarest-first prefixes, the container side is
    the plain inverted index; positional cap + integer cross-multiplied
    verify.  See fuzzy.containment_pairs; operator independence is
    TestContainmentPairs' brute-force permutation parity."""
    from qdrant_datafusion_spark.operators.fuzzy import containment_pairs

    base, ranked = _doc_prefix_token_tables(spark, sf_dir)
    pairs = containment_pairs(
        None,
        "sh3",
        "doc_id",
        t_num=4,
        t_den=5,
        base=base,
        ranked=ranked,
    )
    return pairs.select(
        "id_a",
        "id_b",
        "inter",
        "n_a",
        _ratio_round6(F.col("inter"), F.col("n_a")).alias("containment"),
    )


# mirror of the one-sided prefix candidate generation (provably complete
# — same first-common-token pigeonhole as the Jaccard prefix oracle) +
# the exact integer verify; the all-pairs form needs >10 min of DuckDB
# at sf0.1.  Independence: TestContainmentPairs brute-force parity.
DEDUP_CONTAINMENT_SQL = _SHINGLES_SQL + f"""
, f AS (
  SELECT doc_id, shingles, len(shingles)::BIGINT AS n
  FROM sh WHERE len(shingles) >= 1
),
ex AS (SELECT doc_id, n, unnest(shingles) AS tok FROM f),
cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
rk AS (
  SELECT ex.doc_id, ex.n, ex.tok,
         row_number() OVER (PARTITION BY ex.doc_id
                            ORDER BY cnt.c ASC, ex.tok ASC) AS rn
  FROM ex JOIN cnt USING (tok)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rk a JOIN rk b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  WHERE a.rn <= a.n - (a.n * 4 + 4) // 5 + 1
    AND b.n * 5 >= a.n * 4
    AND least(a.n - a.rn, b.n - b.rn) + 1 >= (a.n * 4 + 4) // 5
),
v AS (
  SELECT id_a, id_b,
         len(list_intersect(fa.shingles, fb.shingles))::BIGINT AS inter,
         fa.n AS n_a
  FROM cand JOIN f fa ON fa.doc_id = cand.id_a
            JOIN f fb ON fb.doc_id = cand.id_b
)
SELECT id_a, id_b, inter, n_a,
       {_ratio6_sql("inter", "n_a")} AS containment
FROM v WHERE inter * 5 >= n_a * 4
"""


QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = DEDUP_CONTAINMENT_SQL


# ===========================================================================
# round-10 session-2 additions: paragraph-level exact dedup (CCNet/Dolma
# shape — operators/dedup.py paragraph_dedup_global/_incremental) and the
# trained model-based quality filter (operators/classify.py, batch
# perceptron).  The synthetic corpus is single-line, so "paragraphs" are
# derived as fixed PARA_W-word windows — a deterministic segmentation both
# engines replay exactly; the operator's default is split(text, '\n').
# ===========================================================================

PARA_W = 4


def _word_windows(text, w: int):
    """Array of w-word unit strings over tokens(text) — the synthetic
    stand-in for newline paragraphs (trailing partial window kept)."""
    toks = tokens(text)
    n = F.ceil(F.size(toks) / F.lit(w)).cast("int")
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(toks, (i - 1) * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dedup_paragraphs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style global paragraph dedup (Wenzek et al. 2020): keep the
    FIRST (doc_id, pos) occurrence of each distinct 4-word unit
    corpus-wide, re-emit documents with survivors rejoined in order.
    One 16-byte-hash groupBy (map-side combining min(struct), so
    boilerplate units collapse before the shuffle) + one join-back +
    one per-doc groupBy; see dedup.paragraph_dedup_global."""
    from qdrant_datafusion_spark.operators.dedup import (
        paragraph_dedup_global,
    )

    docs = _t(spark, sf_dir, "documents")
    out = paragraph_dedup_global(
        docs, id_col="doc_id", units=_word_windows(F.col("text"), PARA_W)
    )
    return out.orderBy("doc_id")


_PARA_UNITS_SQL = f"""
nrm AS MATERIALIZED (
  SELECT doc_id,
         string_split(
           trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')),
           ' ') AS l
  FROM documents WHERE length(trim(text)) > 0
),
un AS MATERIALIZED (
  SELECT doc_id, i,
         array_to_string(l[(i - 1) * {PARA_W} + 1 : i * {PARA_W}], ' ') AS u
  FROM (SELECT doc_id, l,
               unnest(generate_series(
                 1, CAST(ceil(len(l) / {PARA_W}.0) AS BIGINT))) AS i
        FROM nrm WHERE len(l) > 0)
)
"""

DEDUP_PARAGRAPHS_GLOBAL_SQL = f"""
WITH {_PARA_UNITS_SQL},
fl AS MATERIALIZED (
  SELECT doc_id, i, u,
         row_number() OVER (PARTITION BY u ORDER BY doc_id, i) AS rn
  FROM un
)
SELECT doc_id,
       count(*)::BIGINT AS n_units,
       coalesce(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN u END, ' ' ORDER BY i),
                '') AS kept_text
FROM fl GROUP BY doc_id ORDER BY doc_id
"""


def dedup_paragraphs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-BFF-shaped incremental paragraph dedup: the 80% of docs
    with doc_id%10<8 are the accepted store, the rest arrive as a new
    batch; batch units drop when seen in the store (Bloom prefilter +
    exact verify — output exact) or earlier in the batch.  The store is
    never shuffled; see dedup.paragraph_dedup_incremental."""
    from qdrant_datafusion_spark.operators.dedup import (
        paragraph_dedup_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    part = F.pmod(F.col("doc_id"), F.lit(10))
    out = paragraph_dedup_incremental(
        docs.filter(part >= 8),
        store=docs.filter(part < 8),
        id_col="doc_id",
        units=_word_windows(F.col("text"), PARA_W),
    )
    return out.orderBy("doc_id")


DEDUP_PARAGRAPHS_INCR_SQL = f"""
WITH {_PARA_UNITS_SQL},
st AS MATERIALIZED (SELECT DISTINCT u FROM un WHERE doc_id % 10 < 8),
fl AS MATERIALIZED (
  SELECT b.doc_id, b.i, b.u,
         row_number() OVER (PARTITION BY b.u ORDER BY b.doc_id, b.i) AS rn,
         (st.u IS NOT NULL) AS in_store
  FROM (SELECT * FROM un WHERE doc_id % 10 >= 8) b
  LEFT JOIN st ON st.u = b.u
)
SELECT doc_id,
       count(*)::BIGINT AS n_units,
       coalesce(sum(CASE WHEN rn = 1 AND NOT in_store THEN 1 ELSE 0 END),
                0)::BIGINT AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 AND NOT in_store THEN u END,
                           ' ' ORDER BY i), '') AS kept_text
FROM fl GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["dedup_paragraphs_global"] = dedup_paragraphs_global
ORACLES["dedup_paragraphs_global"] = DEDUP_PARAGRAPHS_GLOBAL_SQL
QUERIES["dedup_paragraphs_incremental"] = dedup_paragraphs_incremental
ORACLES["dedup_paragraphs_incremental"] = DEDUP_PARAGRAPHS_INCR_SQL


# ---------------------------------------------------------------------------
# text_quality_classifier — trained model-based quality filter (the GPT-3 /
# LLaMA / CCNet pipeline component): multinomial Naive Bayes over hashed
# bag-of-words (dim 64, hashing trick), trained on the 80% of docs with
# doc_id%10<8 and evaluated on the HELD-OUT 20%.  Label: y=+1 iff the doc
# uses 'fast' strictly more often than 'slow' — a comparative, collision-
# noised concept (dim 64 buckets 'slow' with 'agg'), so the held-out
# confusion matrix is non-degenerate.  All-integer Q(x)=floor(ln(x)·1e6+.5)
# fixed-point, the langid discipline → exact value oracle.
# ---------------------------------------------------------------------------

BOW_DIM = 64


def _nb_bow_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # label population must match the oracle's nrm CTE, which drops
    # empty/whitespace-only text — identical training sets by construction
    return docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.when(
            F.size(F.filter(toks, lambda x: x == "fast"))
            > F.size(F.filter(toks, lambda x: x == "slow")),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )


def _nb_bow_trained(spark: SparkSession, sf_dir: str):
    """(pinned feats, labels, trained model) at the shared gate
    parameters — built once per (session, sf_dir).
    text_quality_classifier and text_classifier_pr run the IDENTICAL
    feature walk (hashed_bow_counts at dim 64) and the IDENTICAL
    training collect (80% split, same labels).  The model is plain
    driver-side integers (no executor state); feats is eagerly pinned
    because both gates read it twice (train split + held-out split)."""
    from qdrant_datafusion_spark.operators.classify import (
        hashed_bow_counts,
        train_nb_bow,
    )

    def build(pin):
        docs = _t(spark, sf_dir, "documents")
        labels = _nb_bow_labels(spark, sf_dir)
        feats = hashed_bow_counts(docs, "text", "doc_id", dim=BOW_DIM)
        feats = pin(feats, lineage=False)
        part = F.pmod(F.col("doc_id"), F.lit(10))
        model = train_nb_bow(
            feats.filter(part < 8), labels.filter(part < 8), dim=BOW_DIM
        )
        return feats, labels, model

    return shared_build(spark, ("nb_bow", sf_dir), build)


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train NB on the 80% split, classify the held-out 20%, emit the
    held-out confusion matrix.  Train = ONE (label, bucket) aggregation
    (≤ dim×2 rows to the driver); apply = one broadcast join + one
    groupBy(doc).  See operators/classify.py."""
    from qdrant_datafusion_spark.operators.classify import nb_bow_predict

    feats, labels, model = _nb_bow_trained(spark, sf_dir)
    part = F.pmod(F.col("doc_id"), F.lit(10))
    pred = nb_bow_predict(
        feats.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8), model
    )
    return (
        pred.join(labels.filter(part >= 8), "doc_id")
        .groupBy(F.col("y").alias("label"), "pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "pred")
    )


_NB_CLS_CTES = f"""nrm AS MATERIALIZED (
  SELECT doc_id,
         string_split(
           trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')),
           ' ') AS l
  FROM documents WHERE length(trim(text)) > 0
),
lab AS MATERIALIZED (
  SELECT doc_id,
         (CASE WHEN len(list_filter(l, x -> x = 'fast'))
                    > len(list_filter(l, x -> x = 'slow'))
               THEN 1 ELSE -1 END)::BIGINT AS y
  FROM nrm
),
tok AS (SELECT doc_id, unnest(l) AS t FROM nrm),
fe AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5('bow:' || t), 1, 8))::BIGINT % {BOW_DIM} AS d,
         count(*)::BIGINT AS c
  FROM tok GROUP BY 1, 2
),
cls AS (SELECT DISTINCT y FROM lab WHERE doc_id % 10 < 8),
cnt AS MATERIALIZED (
  SELECT l.y, f.d, sum(f.c)::BIGINT AS c
  FROM fe f JOIN lab l USING (doc_id) WHERE f.doc_id % 10 < 8
  GROUP BY 1, 2
),
dims AS (SELECT DISTINCT d FROM cnt),
tot AS (SELECT y, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
nd AS (SELECT y, count(*)::BIGINT AS n FROM lab WHERE doc_id % 10 < 8
       GROUP BY 1),
model AS MATERIALIZED (
  SELECT c.y, dm.d,
         {_LANGID_Q.format(x="coalesce(cnt.c, 0) + 1")}
         - {_LANGID_Q.format(x=f"t.t + {BOW_DIM}")} AS w
  FROM cls c CROSS JOIN dims dm
  LEFT JOIN cnt ON cnt.y = c.y AND cnt.d = dm.d
  JOIN tot t ON t.y = c.y
),
prior AS (
  SELECT y, {_LANGID_Q.format(x="n")}
            - {_LANGID_Q.format(x="(SELECT sum(n) FROM nd)")} AS p
  FROM nd
),
hits AS MATERIALIZED (
  SELECT f.doc_id, m.y AS cand, sum(m.w * f.c)::BIGINT AS h
  FROM fe f JOIN model m ON m.d = f.d WHERE f.doc_id % 10 >= 8
  GROUP BY 1, 2
),
sc AS (
  SELECT l.doc_id, l.y AS true_y, p.y AS cand,
         p.p + coalesce(h.h, 0) AS s
  FROM (SELECT * FROM lab WHERE doc_id % 10 >= 8
          AND doc_id IN (SELECT doc_id FROM fe)) l
  CROSS JOIN prior p
  LEFT JOIN hits h ON h.doc_id = l.doc_id AND h.cand = p.y
)"""

TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH {_NB_CLS_CTES},
pr AS (
  SELECT doc_id, true_y, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY s DESC, cand ASC) AS rn
    FROM sc) WHERE rn = 1
)
SELECT true_y AS label, pred, count(*)::BIGINT AS n
FROM pr GROUP BY 1, 2 ORDER BY 1, 2
"""

def text_quality_pipeline_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml Pipeline interop twin of text_quality_classifier
    (round-12 verdict task 5): the SAME NB train/apply, but driven
    through the stock Estimator/Transformer surface —
    ``Pipeline(stages=[NbBowClassifier]).fit(train)`` then
    ``model.transform(held_out)`` — with a PipelineModel save/load
    round-trip INSIDE the gate, so the driver-graded value proves the
    persisted artifact, not just the in-memory stage.  Shares
    TEXT_QUALITY_CLASSIFIER_SQL verbatim: the stage is plumbing around
    the identical all-integer kernel (pytest pins fit/transform ==
    library bit-for-bit; ml_interop.py)."""
    import tempfile

    from pyspark.ml import Pipeline, PipelineModel

    from qdrant_datafusion_spark.ml_interop import NbBowClassifier

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    labeled = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "text",
        F.when(
            F.size(F.filter(toks, lambda x: x == "fast"))
            > F.size(F.filter(toks, lambda x: x == "slow")),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    part = F.pmod(F.col("doc_id"), F.lit(10))
    fitted = Pipeline(stages=[NbBowClassifier(dim=BOW_DIM)]).fit(
        labeled.filter(part < 8)
    )
    with tempfile.TemporaryDirectory() as td:
        fitted.write().overwrite().save(td)
        model = PipelineModel.load(td)
        held = labeled.filter(part >= 8)
        out = (
            model.transform(held)
            .filter(F.col("pred").isNotNull())
            .groupBy(F.col("y").alias("label"), "pred")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy("label", "pred")
        )
        # materialize before the tmp model dir dies (the loaded stage's
        # weights are driver-side JSON, but keep the contract explicit)
        out = out.localCheckpoint(eager=True)
    return out


QUERIES["text_quality_classifier"] = text_quality_classifier
QUERIES["text_quality_pipeline_ml"] = text_quality_pipeline_ml
ORACLES["text_quality_classifier"] = TEXT_QUALITY_CLASSIFIER_SQL
ORACLES["text_quality_pipeline_ml"] = TEXT_QUALITY_CLASSIFIER_SQL


PR_BUCKETS = 8


def text_classifier_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the trained NB quality filter on the
    HELD-OUT split — the threshold-tuning stage that precedes unleashing
    a filter on 100 TB.  Scores quantize into PR_BUCKETS equal-width
    integer bins: ONE bounded groupBy + a window over ≤ PR_BUCKETS rows;
    every ratio is integer HALF_UP ppm.  See classify.nb_bow_score /
    classify.pr_curve."""
    from qdrant_datafusion_spark.operators.classify import (
        nb_bow_score,
        pr_curve,
    )

    feats, labels, model = _nb_bow_trained(spark, sf_dir)
    part = F.pmod(F.col("doc_id"), F.lit(10))
    scored = nb_bow_score(
        feats.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8), model
    ).join(labels.filter(part >= 8), "doc_id")
    return pr_curve(scored, "margin", "y", n_buckets=PR_BUCKETS)


TEXT_CLASSIFIER_PR_SQL = f"""
WITH {_NB_CLS_CTES},
mg AS MATERIALIZED (
  SELECT doc_id, true_y,
         sum(CASE WHEN cand = 1 THEN s ELSE -s END)::BIGINT AS m
  FROM sc GROUP BY 1, 2
),
ext AS (SELECT min(m) AS lo, max(m) AS hi FROM mg),
bk AS (SELECT true_y,
              ((m - (SELECT lo FROM ext)) * {PR_BUCKETS})
                // ((SELECT hi - lo + 1 FROM ext)) AS b
       FROM mg),
ag AS (SELECT b,
              sum(CASE WHEN true_y = 1 THEN 1 ELSE 0 END)::BIGINT AS pos,
              sum(CASE WHEN true_y = -1 THEN 1 ELSE 0 END)::BIGINT AS neg
       FROM bk GROUP BY 1),
cm AS (SELECT b,
              (SELECT lo FROM ext)
                + (b * (SELECT hi - lo + 1 FROM ext) + {PR_BUCKETS} - 1)
                  // {PR_BUCKETS} AS thr_lo,
              sum(pos) OVER (ORDER BY b DESC) AS tp,
              sum(neg) OVER (ORDER BY b DESC) AS fp,
              (SELECT sum(pos) FROM ag)
                - sum(pos) OVER (ORDER BY b DESC) AS fn
       FROM ag)
SELECT b::BIGINT AS b, thr_lo::BIGINT AS thr_lo,
       tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
       ((2 * 1000000 * tp + (tp + fp)) // (2 * (tp + fp)))::BIGINT
         AS precision_ppm,
       ((2 * 1000000 * tp + (tp + fn)) // (2 * (tp + fn)))::BIGINT
         AS recall_ppm
FROM cm ORDER BY b DESC
"""

QUERIES["text_classifier_pr"] = text_classifier_pr
ORACLES["text_classifier_pr"] = TEXT_CLASSIFIER_PR_SQL


def cdc_scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: fold the changelog's EARLY half
    (ts below the exact median) into a base history, then merge the
    LATE half with cdc.scd2_apply_changes — one delta-sized window plus
    ONE history join on the delta's per-key min instant.  The oracle is
    the FULL-changelog SCD2 fold (CDC_SCD2_SQL's shape), so the gate
    proves incremental == from-scratch exactly."""
    from qdrant_datafusion_spark.operators.cdc import (
        scd2_apply_changes,
        scd2_history,
    )

    ev = _events_cdc(spark, sf_dir)
    cutoff = int(
        ev.agg(F.expr("CAST(percentile(ts, 0.5) AS BIGINT)")).collect()[0][0]
    )  # exact percentile — deterministic; 1 driver long
    kwargs = dict(
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_col="event_type",
        delete_ops=("error",),
    )
    base = scd2_history(ev.filter(F.col("ts") <= cutoff), **kwargs)
    merged = scd2_apply_changes(
        base, ev.filter(F.col("ts") > cutoff), **kwargs
    )
    return merged.select(
        "user_id",
        "event_id",
        "event_type",
        "v_micro",
        "valid_from",
        "valid_to",
        "is_current",
    ).orderBy("user_id", "valid_from", "event_id")


QUERIES["cdc_scd2_apply_changes"] = cdc_scd2_apply_changes
ORACLES["cdc_scd2_apply_changes"] = CDC_SCD2_SQL


def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_apply_changes end-to-end: the events changelog arrives in
    two time-ordered micro-batches (ts ≤/> the exact median) and folds
    continuously into a key-hash-bucketed snapshot store — the
    Delta-Live-Tables APPLY CHANGES INTO shape with per-batch cost
    bounded by touched buckets.  The drained store must equal the
    full-changelog latest-state fold (CDC_LATEST_STATE_SQL oracle):
    streaming MERGE == batch MERGE, value-hashed."""
    from qdrant_datafusion_spark.streaming.ingest import (
        stream_apply_changes,
    )

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


QUERIES["streaming_cdc_apply"] = streaming_cdc_apply
ORACLES["streaming_cdc_apply"] = CDC_LATEST_STATE_SQL


HN_K, HN_LO, HN_HI, HN_OVERFETCH = 3, 0.2, 0.9, 20


def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard-negative mining over embeddings: per anchor, the
    top-3 neighbors with cosine in [0.2, 0.9) drawn from the exact
    top-20 list — similar-but-not-duplicate training negatives.  See
    ann.hard_negatives (blocked-GEMM candidates, sequential-exact
    re-score, rounded-6 band both engines share)."""
    from qdrant_datafusion_spark.operators.ann import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return (
        hard_negatives(
            emb,
            "embedding",
            "vec_id",
            k=HN_K,
            lo=HN_LO,
            hi=HN_HI,
            overfetch_rank=HN_OVERFETCH,
        )
        .withColumn("neg_rank", F.col("neg_rank").cast("long"))
        .orderBy("id", "neg_rank")
    )


ANN_HARD_NEGATIVES_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
               6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
),
ranked AS (
  SELECT id, nbr_id, score,
         row_number() OVER (PARTITION BY id
                            ORDER BY score DESC, nbr_id ASC) AS rank
  FROM scored
),
band AS (
  SELECT id, nbr_id, score FROM ranked
  WHERE rank <= {HN_OVERFETCH} AND score >= {HN_LO} AND score < {HN_HI}
)
SELECT id, nbr_id, score,
       row_number() OVER (PARTITION BY id
                          ORDER BY score DESC, nbr_id ASC) AS neg_rank
FROM band QUALIFY neg_rank <= {HN_K}
ORDER BY id, neg_rank
"""

QUERIES["ann_hard_negatives"] = ann_hard_negatives
ORACLES["ann_hard_negatives"] = ANN_HARD_NEGATIVES_SQL


# ---------------------------------------------------------------------------
# source_formats_roundtrip — gate evidence for the SURVEY §2.1 "other
# formats" row (previously claimed as "Spark native" with no gate): the
# documents table writes to ORC, JSON, and CSV and reads back through
# Spark's native sources; per format the gate emits the row count and a
# value checksum that must equal the parquet truth the oracle computes.
# The checksum is the md5-prefix integer sum (the repo's cross-engine
# hash convention), over every column rendered to a canonical string.
# ---------------------------------------------------------------------------

_FMT_CANON = (
    "concat_ws('|', cast(doc_id as string), text, lang, source,"
    " cast(n_chars as string))"
)


def source_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents to ORC / JSON / CSV, read each back (explicit
    schema — CSV carries no types), and emit (fmt, n_rows, checksum).
    Proves the non-parquet source surface end-to-end: a lossy writer,
    reader, or type mapping would shift the checksum."""
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    digest = F.sum(
        F.conv(
            F.substring(F.md5(F.expr(_FMT_CANON)), 1, 12), 16, 10
        ).cast("long")
    )
    tmp = tempfile.mkdtemp(prefix="sg_formats_")
    out_rows = []
    try:
        for fmt in ("orc", "json", "csv"):
            path = os.path.join(tmp, fmt)
            w = docs.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                # text contains no quotes/newlines in the fixture, but
                # escape/quote defaults still apply — header carries names
                w = w.option("header", "true")
            w.save(path)
            r = spark.read.format(fmt)
            if fmt == "csv":
                r = r.option("header", "true").schema(docs.schema)
            elif fmt == "json":
                r = r.schema(docs.schema)
            back = r.load(path)
            row = back.agg(
                F.count("*").cast("long").alias("n"),
                digest.alias("checksum"),
            ).collect()[0]
            out_rows.append((fmt, int(row["n"]), int(row["checksum"])))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        out_rows, "fmt string, n_rows long, checksum long"
    ).orderBy("fmt")


SOURCE_FORMATS_SQL = f"""
WITH truth AS (
  SELECT count(*)::BIGINT AS n,
         sum(('0x' || substr(md5(
           concat_ws('|', doc_id::VARCHAR, text, lang, source,
                     n_chars::VARCHAR)), 1, 12))::BIGINT)::BIGINT AS checksum
  FROM documents
)
SELECT fmt, n AS n_rows, checksum
FROM (VALUES ('csv'), ('json'), ('orc')) AS f(fmt), truth
ORDER BY fmt
"""

QUERIES["source_formats_roundtrip"] = source_formats_roundtrip
ORACLES["source_formats_roundtrip"] = SOURCE_FORMATS_SQL


def streaming_paragraph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_paragraph_ingest end-to-end: documents stream in forced
    micro-batches (doc_id % INGEST_BATCHES, staggered mtimes) through
    the exact paragraph-dedup ingest filter (in-batch first-occurrence
    collapse + unit-hash-store check, foreachBatch with idempotent
    _batch_id sinks).  Because the filter is EXACT, the drained output
    equals ONE global first-occurrence pass in arrival order — the
    oracle is the batch-global SQL re-ranked by (batch, doc, pos), with
    no recall caveats."""
    from qdrant_datafusion_spark.streaming.ingest import (
        stream_paragraph_ingest,
    )

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

QUERIES["streaming_paragraph_ingest"] = streaming_paragraph_ingest
ORACLES["streaming_paragraph_ingest"] = STREAMING_PARAGRAPH_INGEST_SQL


# The driver's CORRECTNESS file has held exactly 50 rows per round while
# this registry grew past it — every query registered after slot 50 has
# only local-mirror evidence for that round, so order is the
# gate-evidence budget.  Round-11 window (exactly 50), built from the
# per-query "newest driver round" table (union of committed
# CORRECTNESS_r*.json):
#   1. the six gates whose code, oracle, or physical plan changed THIS
#      round — v_search_udtf (born this round: the Spark-4 Python UDTF
#      path), the NB classifier pair (label population now filtered to
#      non-blank text to match the oracle's nrm CTE, + pr_curve input
#      pinning), streaming_paragraph_ingest (replay-idempotency fix:
#      the store read now excludes the current batch's own partition),
#      and the graph pair (shared kNN edge table now memoized +
#      localCheckpoint-pinned);
#   2. ALL 28 rows whose newest driver evidence was round 6 — the
#      whole stale tail deferred by the round-10 rotation (the verdict's
#      round-11 task #1: after this round no registered query's newest
#      driver evidence may predate round 8);
#   3. 14 of the 45 r8-vintage rows, alphabetically first (graph_* are
#      already in region 1) — the rest stay r8-fresh and rotate next
#      round.  Every deferred query remains green in both committed
#      local sweeps at sf0.01 and sf0.1.
_RUN_FIRST = [
    # -- 1: born this round (6, registry 181): the BRP euclidean
    # similarity-JOIN gate on the planted-cluster fixture (r12 verdict
    # task 1), the pyspark.ml Pipeline interop twin of the quality
    # classifier with an in-gate PipelineModel save/load round-trip
    # (task 5), the leakage-safe group split (near-dup clusters assigned
    # whole), the directional source-pair overlap matrix, and the
    # bucketized range join (BETWEEN lookup as an equi-join), and the
    # watermark-bounded streaming dedup (dropDuplicatesWithinWatermark
    # state eviction under the exactly-once oracle).  The last four
    # displace dedup_jaccard_prefix / dedup_paragraphs_global /
    # dedup_embedding_recall / dedup_embedding_lsh from region 3 — all
    # stay r10-vintage (≥ the round's floor) and green in the committed
    # r13 local sweeps.
    "dedup_embedding_brp", "text_quality_pipeline_ml",
    "pipeline_group_split", "dedup_source_overlap",
    "q_range_bucket_join", "streaming_dedup_bounded",
    # -- 2: the complete r9-vintage tail (36 — the round-12 vintage
    # audit's full list; after this round no query's newest driver
    # evidence predates round 10).
    "layout_zorder_prune", "layout_zvalue", "pipeline_fd_audit",
    "pipeline_k_anonymity", "pipeline_pack_bpe", "pipeline_profile",
    "pipeline_quantile_normalize", "pipeline_source_cap",
    "pipeline_validate", "pipeline_weighted_sample",
    "q10_returned_items", "q_bloom_anti_join", "q_bloom_semi_join",
    "q_events_anomalies", "q_events_resample", "q_events_rolling",
    "sketch_cms_error", "sketch_cms_heavy_hitters",
    "sketch_drift_report", "sketch_hist_quantiles", "sketch_join_size",
    "sketch_kmv_distinct", "sketch_kmv_groups", "sketch_kmv_jaccard",
    "skew_hot_keys", "streaming_heavy_hitters",
    "streaming_hist_quantiles", "streaming_interval_join",
    "text_bpe_encode", "text_bpe_vocab", "text_decontaminate_semantic",
    "text_pmi_phrases", "text_unigram_encode", "text_unigram_vocab",
    "text_unigram_vocab_mb", "v_search_matryoshka",
    # -- 3: the oldest r10-vintage rows, alphabetical, filling to 50
    "ann_hard_negatives", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_knn_graph_blocked", "cdc_apply_changes",
    "cdc_scd2_apply_changes", "cdc_table_diff", "dedup_containment",
]
assert len(_RUN_FIRST) == 50, len(_RUN_FIRST)
_missing = [q for q in _RUN_FIRST if q not in QUERIES]
assert not _missing, f"_RUN_FIRST names not registered: {_missing}"
QUERIES = {
    k: QUERIES[k]
    for k in (*_RUN_FIRST, *(q for q in QUERIES if q not in _RUN_FIRST))
}
