"""Event-table gates: JSON payload access, percentiles, hourly buckets,
sessions, funnels, cohorts, resampling, rolling windows, anomalies, and
the as-of / interval temporal joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.json_fns import (
    has_field,
    json_length,
    payload_get_float,
    variant_get_float,
    variant_has_field,
)
from qdrant_datafusion_spark.operators.temporal import (
    as_of_join,
    funnel_stages,
    interval_join,
    resample_interpolate,
    robust_anomalies,
)

from ._common import (
    _avg6_sql,
    _avg_round6,
    _events,
    _floor_div,
    _floor_div_sql,
    _ratio6_sql,
    _ratio_round6,
    _t,
    gate,
)

# ===========================================================================
# Events: JSON payload + time windows + sessionization
# ===========================================================================


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


@gate("q_events_json", oracle=Q_EVENTS_JSON_SQL)
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


# the variant path must match the string-JSON oracle exactly
@gate("q_events_json_variant", oracle=Q_EVENTS_JSON_SQL)
def q_events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same JSON query over Spark 4's VARIANT encoding (parse once,
    typed extraction) — must produce exactly q_events_json's rows, so the
    two JSON paths (string get_json_object vs binary variant) are proven
    equivalent against one oracle."""

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


Q_EVENT_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(min(value), 6) AS vmin,
       round(max(value), 6) AS vmax
FROM events
GROUP BY event_type
"""


@gate("q_event_percentiles", oracle=Q_EVENT_PERCENTILES_SQL)
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


Q_APPROX_PERCENTILE_SQL = """
SELECT event_type, count(value)::BIGINT AS n, TRUE AS rank_within_bound
FROM events
WHERE value IS NOT NULL
GROUP BY event_type
"""


@gate("q_approx_percentile", oracle=Q_APPROX_PERCENTILE_SQL)
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


Q_EVENTS_HOURLY_SQL = f"""
SELECT {_floor_div_sql("epoch_ns(ts)", 3_600_000_000_000)}::BIGINT
         AS hour_bucket,
       event_type, count(*) AS n, round(sum(value::DECIMAL(18,6))::DOUBLE, 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


@gate("q_events_hourly", oracle=Q_EVENTS_HOURLY_SQL)
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


@gate("q_events_sessions", oracle=Q_EVENTS_SESSIONS_SQL)
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


@gate("q_pivot_events", oracle=Q_PIVOT_SQL)
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


# ---------------------------------------------------------------------------
# Temporal joins (operators/temporal.py): as-of enrichment, interval join
# ---------------------------------------------------------------------------


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


@gate("q_asof_purchase_click", oracle=Q_ASOF_SQL)
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every purchase enriched with the user's latest preceding click
    (inclusive), ties at one timestamp resolved to the largest click
    event id — the classic event-attribution as-of join, executed as
    union + single keyed shuffle + in-partition carry (no pair join)."""

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


@gate("q_interval_signup_window", oracle=Q_INTERVAL_SQL)
def q_interval_signup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases inside the half-open 30-minute window after any signup
    by the same user — point-in-interval join planned as a keyed hash
    join (containment filters inside the join, no pair blow-up)."""

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

RESAMPLE_STEP_S = 86_400  # daily grid


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


@gate("q_events_resample", oracle=Q_EVENTS_RESAMPLE_SQL)
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

ROLLING_WINDOW_S = 7 * 86_400  # trailing 7 days


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


@gate("q_events_rolling", oracle=Q_EVENTS_ROLLING_SQL)
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


@gate("q_json_length_keys", oracle=Q_JSON_LENGTH_KEYS_SQL)
def q_json_length_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_length + json-object key semantics — the last two functions
    of the reference's registered datafusion-functions-json suite
    (reference src/udfs.rs:13-16).  events.props yields keys / key count /
    the ``k`` value from ONE parsed map; a data-derived JSON *array* —
    ``[0,0,...]`` with (k mod 4)+1 elements — exercises the array arm of
    json_length with a value the oracle recomputes.  (The object arm of
    json_length and ``json_object_keys`` proper are pinned by the pytest
    semantics matrix in test_functions.py.)"""

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


@gate("q_events_funnel", oracle=Q_EVENTS_FUNNEL_SQL)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users who
    performed each stage strictly after their earliest qualifying
    previous-stage event, with per-stage conversion ratios (exact
    HALF_UP at 6 decimals; an empty upstream stage converts at 0.0 —
    the den=0 guard matters because ANSI integer `%` by zero throws,
    it does not NULL).  One keyed join + groupBy per stage — see
    operators.temporal.funnel_stages for the scale argument."""

    ev = _events(spark, sf_dir)  # nanos-normalized; ordering-isomorphic
    base = funnel_stages(ev, ["view", "click", "purchase"])
    return _funnel_present(base)


#: epoch-week bucket width in nanoseconds (integer arithmetic — week
#: boundaries identical in any engine, no calendar/timezone semantics)
_WEEK_NS = 7 * 86400 * 10**9


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


@gate("q_events_cohorts", oracle=Q_EVENTS_COHORTS_SQL)
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


@gate("q_events_anomalies", oracle=Q_EVENTS_ANOMALIES_SQL)
def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier detection: |x − median| > 1.5·MAD over
    fixed-point value micros — lower medians (selected elements, never
    interpolated) and a cross-multiplied threshold keep every number an
    exact integer on both engines.  One key exchange, three in-place
    window re-sorts; see temporal.robust_anomalies."""

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
