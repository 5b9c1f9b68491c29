"""Relational gates (SURVEY.md §2.2-2.7, the Tier B surface inherited via
Catalyst): TPC-H shapes, semi/anti and bloom joins, set operations,
grouping sets, and the skew-aware salted and range-bucket joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.operators.joins import (
    bloom_semi_join,
    range_bucket_join,
    salted_join,
)

from ._common import _avg6_sql, _avg_round6, _t, gate

# ===========================================================================
# Relational surface (SURVEY.md §2.2-2.7 — Tier B, inherited via Catalyst)
# ===========================================================================


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


@gate("q1_pricing_summary", oracle=Q1_SQL)
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


@gate("q3_topk_revenue", oracle=Q3_SQL)
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


@gate("q5_nation_revenue", oracle=Q5_SQL)
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


Q_GROUP_HAVING_SQL = f"""
SELECT o_custkey, count(*) AS n_orders,
       round(max(o_totalprice), 2) AS max_price,
       {_avg6_sql("(o_totalprice::DECIMAL(18,2) * 100)::BIGINT", 2, out_scale=4)} AS avg_price
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
"""


@gate("q_group_having", oracle=Q_GROUP_HAVING_SQL)
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


Q_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


@gate("q_semi_join", oracle=Q_SEMI_JOIN_SQL)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join via IN-subquery shape (tests/bin/tests.sql:152)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@gate("q_anti_join", oracle=Q_ANTI_JOIN_SQL)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
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


@gate("q_case_boost", oracle=Q_CASE_BOOST_SQL)
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


@gate("q_window_topk_per_group", oracle=Q_WINDOW_TOPK_SQL)
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


Q_SETOPS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


@gate("q_setops", oracle=Q_SETOPS_SQL)
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


Q_DISTINCT_AGG_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished
FROM orders
GROUP BY o_orderpriority
"""


@gate("q_distinct_aggregates", oracle=Q_DISTINCT_AGG_SQL)
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


Q_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@gate("q_rollup", oracle=Q_ROLLUP_SQL)
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


Q_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@gate("q_grouping_sets", oracle=Q_GROUPING_SETS_SQL)
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


@gate("q_above_avg_orders", oracle=Q_ABOVE_AVG_SQL)
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


@gate("q14_promo_revenue", oracle=Q14_SQL)
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


@gate("q_top_supplier_per_nation", oracle=Q_TOP_SUPPLIER_SQL)
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


Q_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
       count(*)::BIGINT AS n,
       TRUE AS rel_err_ok
FROM lineitem
GROUP BY l_returnflag
"""


@gate("q_approx_distinct", oracle=Q_APPROX_DISTINCT_SQL)
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


@gate("q_salted_join", oracle=Q_SALTED_JOIN_SQL)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⨝dim via :func:`salted_join` on a genuinely hot key:
    ``l_returnflag`` has 3 distinct values over the whole lineitem table,
    so an unsalted shuffle join lands ~1/3 of the fact on each of THREE
    reduce tasks regardless of cluster size; the salt spreads each flag
    over 16.  The oracle is the plain join — salting must be row-for-row
    invisible in the result."""

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


@gate("q_range_bucket_join", oracle=Q_RANGE_BUCKET_JOIN_SQL)
def q_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-dimension lookup as an equi-join: orders priced into 63
    OVERLAPPING price bands (stride 8000, width 14000 — most orders
    match two bands) via :func:`joins.range_bucket_join`.  Spark plans
    the naive ``BETWEEN`` join as BroadcastNestedLoopJoin (O(n·m) row
    comparisons); the bucket expansion turns it into a broadcast HASH
    join on the bucket id with the exact BETWEEN as a post-filter —
    row-for-row the same answer (the oracle IS the naive join)."""

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


@gate("q10_returned_items", oracle=Q10_SQL)
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


@gate("q_bloom_semi_join", oracle=Q_BLOOM_SEMI_SQL)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter semi join: lineitem pruned to urgent finished
    orders through a 128 KB Bloom bitmap + exact verify (the explicit
    form of Spark's runtime bloomFilter rewrite — the fact side never
    shuffles before the prefilter), then the Q1-shaped aggregate over
    the survivors.  joins.bloom_semi_join carries the scale argument:
    the bitmap is fixed-size however many dim keys there are."""

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


@gate("q_bloom_anti_join", oracle=Q_BLOOM_ANTI_SQL)
def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anti twin: lineitem rows whose order is NOT urgent-finished —
    rows failing any Bloom bit test short-circuit out map-side as
    definite non-matches; only the candidate residue pays the exact
    anti join.  Same aggregate shape as the semi gate."""

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
