"""Helpers over ``df._jdf...executedPlan`` / explain text.

The reference's optimizer surface is: projection pushdown + limit pushdown,
no filter pushdown (reference src/table.rs:174-175 stores and ignores
filters).  Catalyst gives us all three natively; these helpers make the
claims checkable in tests instead of asserted in prose.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def scan_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read by the scan (ReadSchema) — column pruning proof."""
    text = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_take_ordered(df: DataFrame) -> bool:
    """True when top-k compiles to TakeOrderedAndProject (per-partition
    k-heaps + driver merge) instead of a global sort."""
    return "TakeOrderedAndProject" in explain_str(df)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def stage_totals(spark, **metrics: str) -> dict[str, int]:
    """Each named ``StageData`` metric (``shuffle_write_bytes=
    "shuffleWriteBytes"``) summed over every completed stage of this
    application so far.  Reads the driver's status store directly, so it
    works with the Spark UI off and never depends on which port a UI
    bound."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # type: ignore[attr-defined]
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)  # type: ignore[attr-defined]
    stages = store.stageList(None, False, False, no_quantiles, None)
    tot = dict.fromkeys(metrics, 0)
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.status().toString() == "COMPLETE":
            for k, getter in metrics.items():
                tot[k] += getattr(s, getter)()
    return tot
