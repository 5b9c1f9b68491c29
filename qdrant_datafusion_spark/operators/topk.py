"""Top-k search operators.

``top_k`` is the dominant corpus shape (``SELECT id, V_SEARCH(...) AS score
ORDER BY score DESC LIMIT k`` — reference tests/bin/tests.sql:10-13 and ~20
more): it compiles to TakeOrderedAndProject — each partition keeps a k-heap,
the driver merges heaps — so the cost at 100 TB is one scan, no global sort,
no shuffle.

``batch_search`` is the corpus's ``VALUES ... CROSS JOIN LATERAL top-5``
batch pattern (tests/bin/tests.sql:327-344).  Spark's lateral-join support
is narrower than DataFusion's, so the reliable, scale-correct form is the
window rewrite: broadcast the queries, score every (row, query) pair in one
pass, then ``row_number() OVER (PARTITION BY query_id ORDER BY score DESC)
<= k`` (SURVEY.md §7).

``prefetch_rerank`` is the two-stage search CTE (tests/bin/tests.sql:144-168):
broad cheap top-n candidate fetch, then an expensive scorer over only those
candidates — the standard retrieve-then-rerank shape (e.g. ColBERT MaxSim
rerank over a dense-cosine prefetch).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import (
    column_sql,
    norm_sql,
    score_sql,
    v_search,
)


def top_k(
    collection: DataFrame,
    vector_col: str,
    query: Sequence[float],
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    score_col: str = "score",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Single-query top-k: score + TakeOrderedAndProject.  NULL vectors
    (points not carrying this field) are filtered out, mirroring Qdrant
    never returning points lacking the searched field."""
    scored = (
        collection.filter(F.col(vector_col).isNotNull())
        .select(id_col, *extra_cols, v_search(vector_col, query, metric).alias(score_col))
    )
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def batch_search(
    collection: DataFrame,
    queries: DataFrame,
    vector_col: str,
    k: int,
    metric: str = "cosine",
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    score_col: str = "score",
) -> DataFrame:
    """Multi-query top-k — the lateral-join pattern, window-rewritten.

    The query table broadcasts (it is always small relative to the
    collection); scoring is one distributed pass; per-query ranking
    shuffles only on query_id.  Ties break on id for determinism.  For
    cosine, each collection row's norm and each query's norm are
    computed once before the cross join, not once per (row, query) pair.
    """
    coll = collection.filter(F.col(vector_col).isNotNull())
    queries = queries.select(query_id_col, query_vec_col)
    v, q = column_sql(vector_col), column_sql(query_vec_col)
    norms = {}
    if metric == "cosine":
        coll = coll.withColumn("_batch_vn", F.expr(norm_sql(v)))
        queries = queries.withColumn("_batch_qn", F.expr(norm_sql(q)))
        norms = {"vn": "_batch_vn", "qn": "_batch_qn"}
    scored = coll.crossJoin(F.broadcast(queries)).select(
        query_id_col,
        id_col,
        F.expr(score_sql(metric, v, q, **norms)).alias(score_col),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def prefetch_rerank(
    collection: DataFrame,
    prefetch_score: Column,
    rerank_score: Column,
    prefetch_n: int,
    k: int,
    id_col: str = "id",
    score_col: str = "score",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-stage search: top-``prefetch_n`` by ``prefetch_score``, then
    top-``k`` of those by ``rerank_score``.

    Both stages are TakeOrderedAndProject over a single scan lineage — the
    expensive reranker runs on only ``prefetch_n`` rows.
    """
    stage1 = (
        collection.select(
            id_col, *extra_cols, prefetch_score.alias("_prefetch"), rerank_score.alias(score_col)
        )
        .filter(F.col("_prefetch").isNotNull())
        .orderBy(F.desc("_prefetch"), F.asc(id_col))
        .limit(prefetch_n)
    )
    return (
        stage1.filter(F.col(score_col).isNotNull())
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
        .drop("_prefetch")
    )
