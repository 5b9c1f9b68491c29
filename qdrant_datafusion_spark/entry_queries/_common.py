"""What every gate module shares: the registry ``__spark_entry__`` reads
(:data:`QUERIES`, :data:`ORACLES`, filled by :func:`gate`), the fixture
readers, and the Spark/DuckDB twin helpers whose two halves must agree
bit for bit (each Spark helper sits next to its DuckDB text twin)."""

from __future__ import annotations

import os
import random
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from qdrant_datafusion_spark.session import shared_build

Gate = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Gate] = {}
ORACLES: dict[str, str] = {}


def gate(key: str, oracle: str) -> Callable[[Gate], Gate]:
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` function as
    gate ``key`` with its DuckDB oracle SQL; returns the function itself."""

    def register(fn: Gate) -> Gate:
        if key in QUERIES:
            raise ValueError(f"gate {key!r} registered twice")
        QUERIES[key] = fn
        ORACLES[key] = oracle
        return fn

    return register


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

    Two generations of fixture testdata exist: TIMESTAMP(NANOS) (which
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


# ---------------------------------------------------------------------------
# seeded literal vectors and their DuckDB array text (Spark + oracle SQL)
# ---------------------------------------------------------------------------


def _seeded_vec(dim: int, seed: int) -> list[float]:
    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]


def _sql_array(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"
