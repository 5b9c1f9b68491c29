"""Sparse-vector kernels — ``V_SPARSE_SEARCH``
(reference tests/bin/tests.sql:67-77, 401-404).

A sparse vector is the reference's two-column convention:
``{name}_indices array<long>`` + ``{name}_values array<float>``
(reference src/arrow/schema.rs:93-106; UInt32 indices widened to long).

Two execution strategies:

1. ``v_sparse_search`` — per-row native kernel: the query becomes a literal
   ``map<long,double>``; score = Σ values[i] * query[indices[i]] via
   ``zip_with`` + ``element_at`` + ``aggregate``.  O(nnz) per row, zero
   shuffle, no Python boundary; the higher-order functions are
   ``CodegenFallback``, so the scoring ``Project`` runs interpreted
   outside WholeStageCodegen.  Right when the query is one literal
   vector.

2. ``sparse_dot_join`` — the 100 TB path for *many* queries: explode both
   sides to (id, index, value), equi-join on index (queries side is small →
   broadcast), partial-aggregate ``sum(value*qvalue)`` per (row, query).
   Shuffles once on the join key; map-side combine keeps it lean.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import (
    ColumnOrName,
    _as_col,
    _fold_col,
    column_sql,
    double_sql,
    kernel_sql,
)


def _query_map(query: Mapping[int, float] | Sequence[tuple[int, float]]) -> str:
    """The literal query as one ``map<bigint, double>`` SQL constant."""
    items = list(query.items()) if isinstance(query, Mapping) else list(query)
    if not items:
        return "CAST(map() AS MAP<BIGINT, DOUBLE>)"
    return "map(" + ", ".join(f"{int(i)}L, {double_sql(float(v))}" for i, v in items) + ")"


def sparse_dot_columns(
    indices: ColumnOrName,
    values: ColumnOrName,
    query: Mapping[int, float] | Sequence[tuple[int, float]],
) -> Column:
    """Sparse dot product of a row's (indices, values) pair against a literal
    sparse query.  NULL indices/values → NULL score (nullable vector rule,
    reference src/arrow/schema.rs:98-104).  With column names the kernel
    is one ``F.expr`` over the ``sparse`` text of the kernel table."""
    qmap = _query_map(query)
    if isinstance(indices, str) and isinstance(values, str):
        return F.expr(
            kernel_sql("sparse", column_sql(indices), column_sql(values), m=qmap)
        )
    m = F.expr(qmap)
    return _fold_col(
        _as_col(indices),
        _as_col(values),
        lambda i, v: F.coalesce(F.element_at(m, i.cast("bigint")), F.lit(0.0))
        * v.cast("double"),
    )


# SQL-facing alias with the reference's name
v_sparse_search = sparse_dot_columns


def sparse_dot_join(
    collection: DataFrame,
    queries: DataFrame,
    id_col: str = "id",
    indices_col: str = "indices",
    values_col: str = "values",
    query_id_col: str = "query_id",
    query_indices_col: str = "indices",
    query_values_col: str = "values",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch sparse scoring at scale: explode → broadcast-join on index →
    partial-agg sum.  Returns (id, query_id, score).

    ``queries`` carries (query_id, indices, values) under its own column
    names (``query_indices_col``/``query_values_col``).  For the typical
    "thousands of queries vs billions of docs" shape the exploded query side
    is tiny → broadcast, so the only shuffle is the final groupBy
    (id, query_id), which AQE coalesces.
    """
    docs = collection.select(
        F.col(id_col).alias("_doc_id"),
        F.explode(
            F.arrays_zip(
                F.col(indices_col).alias("idx"), F.col(values_col).alias("val")
            )
        ).alias("t"),
    ).select("_doc_id", F.col("t.idx").alias("idx"), F.col("t.val").cast("double").alias("val"))

    q = queries.select(
        F.col(query_id_col).alias("_query_id"),
        F.explode(
            F.arrays_zip(
                F.col(query_indices_col).alias("idx"),
                F.col(query_values_col).alias("qval"),
            )
        ).alias("t"),
    ).select("_query_id", F.col("t.idx").alias("idx"), F.col("t.qval").cast("double").alias("qval"))
    if broadcast_queries:
        q = F.broadcast(q)

    return (
        docs.join(q, "idx")
        .groupBy(F.col("_doc_id").alias(id_col), F.col("_query_id").alias(query_id_col))
        .agg(F.sum(F.col("val") * F.col("qval")).alias("score"))
    )
