"""Spark-4 Python UDAF surface (SURVEY §2.10): grouped vector centroid.

``V_CENTROID(vec)`` is a grouped-aggregate pandas UDF (Arrow-batched,
one call per group) returning the element-wise mean of an
``array<double>`` column — the UDAF form of the ``group_centroids``
gate's native posexplode → decimal-sum aggregation.

The arithmetic is the engine's exact fixed-point average so the two
paths agree bit-for-bit and can share one DuckDB oracle:

1. each element quantizes to integer 1e-12 units exactly as Spark's
   ``cast(x AS DECIMAL(20,12)) * 1e12`` does (HALF_UP on the shortest
   decimal representation — ``Decimal(repr(x))``);
2. the group mean is the HALF_UP integer division
   ``(2*|sum| + q) // (2*q)`` with ``q = n * 10**(12-6)`` — the
   ``_avg_round6`` contract (entry_queries/_common.py) at out_scale 6.

Scale note: a grouped-agg pandas UDF materializes each full group on
one worker (no partial aggregation), so at 100 TB the PRODUCTION path
for centroids stays the native (label, dim)-partial aggregation the
``group_centroids`` gate runs; this module demonstrates the UDAF
registration hook (the reference has no UDAFs — SURVEY §2.10 'none').
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

_TWELVE = Decimal("1e-12")
_SCALE = 10**12


def _units(x: float) -> int:
    """Integer 1e-12 units of ``x`` — mirrors Spark's
    ``cast(double AS DECIMAL(20,12))`` (HALF_UP on repr) exactly."""
    return int(
        Decimal(repr(float(x))).quantize(_TWELVE, rounding=ROUND_HALF_UP)
        * _SCALE
    )


# returnType as a DataType OBJECT, not a DDL string: Python workers
# re-import this module to unpickle the UDF, and parsing a DDL string
# needs an active SparkContext the worker doesn't have
@pandas_udf(ArrayType(DoubleType()))
def v_centroid(v: pd.Series) -> list:
    """Element-wise mean vector of a group, round-6 HALF_UP exact."""
    rows = [r for r in v if r is not None]
    if not rows:
        return None
    n = len(rows)
    dim = len(rows[0])
    sums = [0] * dim
    for r in rows:
        if len(r) != dim:
            # a silent partial mean over ragged vectors would be a wrong
            # answer, not an error — fail loudly instead
            raise ValueError(
                f"V_CENTROID: ragged group (dim {len(r)} vs {dim})"
            )
        for i, x in enumerate(r):
            sums[i] += _units(x)
    q = n * 10**6  # scale_in 12 -> out_scale 6
    out = []
    for s in sums:
        absr = (2 * abs(s) + q) // (2 * q)
        out.append((-absr if s < 0 else absr) / 1e6)
    return out
