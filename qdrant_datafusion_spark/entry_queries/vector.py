"""Vector gates (SURVEY.md §2.11, the ``V_*`` surface): exact top-k in
every metric, recommend/discover, sparse and hybrid fusion, batch and
two-stage search, ANN (IVF, PQ, LSH, kNN graph), quantization, and the
embedding constants the dedup and streaming gates reuse."""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.agg_fns import v_centroid
from qdrant_datafusion_spark.functions.composite import (
    discover_by_ids,
    recommend_composite,
)
from qdrant_datafusion_spark.functions.distance import (
    cosine_similarity,
    euclid_distance,
    v_random,
    v_search,
)
from qdrant_datafusion_spark.functions.fusion import rrf_fuse
from qdrant_datafusion_spark.functions.geo import v_gauss_decay, v_geo_distance
from qdrant_datafusion_spark.functions.json_fns import payload_contains
from qdrant_datafusion_spark.functions.multivector import v_colbert
from qdrant_datafusion_spark.functions.registry import register_all
from qdrant_datafusion_spark.functions.sparse import sparse_dot_join
from qdrant_datafusion_spark.operators.ann import (
    assign_ivf_cells,
    hard_negatives,
    ivf_topk,
    knn_brp_mllib,
    lsh_bucket_topk,
    mmr_select,
    self_knn_join,
    self_knn_join_lsh,
)
from qdrant_datafusion_spark.operators.dedup import auto_plane_count
from qdrant_datafusion_spark.operators.quantize import (
    binary_quantize_query,
    binary_search_topk,
    ivfpq_search_topk,
    jl_project,
    jl_sign_matrix,
    pq_search_topk,
    quantization_error_stats,
    scalar_dequantize,
    scalar_quantize,
)
from qdrant_datafusion_spark.operators.topk import batch_search, prefetch_rerank
from qdrant_datafusion_spark.session import shared_build

from ._common import _avg6_sql, _avg_round6, _seeded_vec, _sql_array, _t, gate
from .text import _TOKS_SQL

#: deterministic literal queries shared by the gates and their oracles
QUERY_VEC = _seeded_vec(64, 42)
#: sparse "query": fixed vocabulary words with weights (documents are
#: word-soup over a small vocab, see TESTDATA.md)
SPARSE_QUERY = [("spark", 2.0), ("join", 1.5), ("merge", 1.0), ("window", 0.5)]
#: ColBERT-style query: 2 sub-vectors of dim 16 (docs side = embedding
#: sliced into 4 chunks of 16)
COLBERT_QUERY = [_seeded_vec(16, 44), _seeded_vec(16, 45)]
RECOMMEND_POS = [0, 1, 2]
RECOMMEND_NEG = [3]
#: synthetic geo: lat/lon derived arithmetically from c_custkey (both
#: engines compute the same formula); target point = Paris
GEO_TARGET = (48.8566, 2.3522)


# ===========================================================================
# Vector search surface (SURVEY.md §2.11 — the V_* functions)
# ===========================================================================


def _emb_oracle_prelude() -> str:
    return f"""
WITH q AS (SELECT {_sql_array(QUERY_VEC)}::DOUBLE[] AS qv)
"""


V_SEARCH_TOPK_SQL = _emb_oracle_prelude() + """
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


@gate("v_search_topk", oracle=V_SEARCH_TOPK_SQL)
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


# same answer through the Spark-4 Python UDTF surface (SURVEY §2.10)
# the UDTF path must match the scalar-kernel top-k oracle verbatim
@gate("v_search_udtf", oracle=V_SEARCH_TOPK_SQL)
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
        args={"qjson": json.dumps(QUERY_VEC), "k": 10},
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


# the BRP interop ANN must reach the exact euclid top-10
@gate("v_search_brp_mllib", oracle=V_SEARCH_BRP_MLLIB_SQL)
def v_search_brp_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib interop ANN: top-10 EUCLIDEAN neighbors of the query vector
    via the stock BucketedRandomProjectionLSH.approxNearestNeighbors
    (array_to_vector bridge, seeded ⇒ deterministic candidates), with
    the emitted distance recomputed by the house euclid kernel.  The
    oracle is the EXACT euclid top-10 — at the gate's bucket length the
    seeded single-probe candidate set must contain the true top-10
    (verified at all three SFs), the same full-recall contract the
    MinHashLSH interop gate makes."""

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_brp_mllib(
        emb, "embedding", QUERY_VEC, 10, id_col="vec_id",
        num_hash_tables=10, bucket_length=2.0, seed=7,
    )
    return out.select(
        "vec_id", F.round(F.col("distance"), 6).alias("distance")
    )


V_SEARCH_DOT_SQL = _emb_oracle_prelude() + """
SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv), 6) AS score
FROM embeddings, q
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


@gate("v_search_dot_topk", oracle=V_SEARCH_DOT_SQL)
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


@gate("v_within_radius", oracle=V_WITHIN_SQL)
def v_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_DISTANCE + V_WITHIN: euclid distance under a radius
    (tests/bin/tests.sql:42-51)."""
    emb = _t(spark, sf_dir, "embeddings")
    dist = F.round(euclid_distance(F.col("embedding"), QUERY_VEC), 6)
    return (
        emb.select("vec_id", dist.alias("distance"))
        .filter(F.col("distance") < 4.5)
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


@gate("v_recommend_topk", oracle=V_RECOMMEND_SQL)
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


@gate("v_colbert_topk", oracle=V_COLBERT_SQL)
def v_colbert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_COLBERT MaxSim (tests/bin/tests.sql:157-168).  The embeddings table
    has no multi-vector column, so each 64-dim embedding is viewed as a
    4x16 multi-vector (4 chunks) — the MaxSim kernel itself is the real
    operator under test."""

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


@gate("v_sparse_topk", oracle=V_SPARSE_SQL)
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


@gate("v_fusion_hybrid", oracle=V_FUSION_SQL)
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

    fused = (
        rrf_fuse([dense, sparse], on="id", per_branch_limit=100)
        .select("id", F.round("fused_score", 6).alias("fused_score"))
        .orderBy(F.desc("fused_score"), F.asc("id"))
        .limit(20)
    )
    return fused


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


@gate("v_geo_decay_topk", oracle=V_GEO_SQL)
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


@gate("ann_knn_graph", oracle=ANN_KNN_GRAPH_SQL)
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-kNN join: each embedding's exact top-5 neighbors (the kNN-graph
    builder).  The auto-sized GEMM grid floors at 4 blocks, so the gate
    exercises the cross-block candidate path at every SF.  Rides the
    per-(session, sf_dir) memoized table the three graph gates share."""
    out = _knn_table(spark, sf_dir)
    return out.select(
        "id", "nbr_id", "score", F.col("rank").cast("long").alias("rank")
    )


# ===========================================================================
# batch / two-stage search operators (corpus composite patterns)
# ===========================================================================

BATCH_QUERIES = [(1, _seeded_vec(64, 50)), (2, _seeded_vec(64, 51)), (3, _seeded_vec(64, 52))]


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


@gate("v_batch_search", oracle=V_BATCH_SEARCH_SQL)
def v_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-query search — the corpus's ``VALUES ... CROSS JOIN
    LATERAL top-5`` pattern (tests/bin/tests.sql:327-344), window-rewritten
    (broadcast queries + one scoring pass + per-query rank)."""

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


@gate("v_prefetch_rerank", oracle=V_PREFETCH_RERANK_SQL)
def v_prefetch_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage prefetch->rerank (corpus tests/bin/tests.sql:144-168):
    broad dense-cosine top-100 prefetch, ColBERT MaxSim rerank to top-10.
    Both stages are TakeOrderedAndProject; the expensive scorer touches
    only the prefetched 100 rows."""

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

IVF_CENTROIDS = [_seeded_vec(64, 60 + i) for i in range(8)]


# the literal LATERAL form must produce exactly the window rewrite's rows
@gate("v_lateral_batch_search", oracle=V_BATCH_SEARCH_SQL)
def v_lateral_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's batch search in its LITERAL SQL form — ``VALUES ...
    CROSS JOIN LATERAL (SELECT ... V_SEARCH(...) ORDER BY score LIMIT 5)``
    (reference tests/bin/tests.sql:327-344), executed as written: Spark 4
    plans correlated LATERAL subqueries with ORDER BY/LIMIT, and V_SEARCH
    is a SQL-defined function that inlines into the plan (no Python
    boundary).  Same oracle as the window rewrite — both must agree."""

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


# seeded-literal centroids make this IVF deterministic → full value oracle
@gate("ann_ivf_topk", oracle=_ivf_oracle_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (rows-only check: the probe set is an
    engine-internal detail; exactness is covered by v_search_topk and the
    recall test in tests/test_operators.py)."""

    emb = _t(spark, sf_dir, "embeddings")
    assigned = assign_ivf_cells(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "embedding", IVF_CENTROIDS
    )
    out = ivf_topk(
        assigned, "embedding", QUERY_VEC, IVF_CENTROIDS, 10, nprobe=3
    )
    return out.select("id", F.round("score", 6).alias("score"))


DISCOVER_TARGET = _seeded_vec(64, 70)
DISCOVER_CONTEXT = [(4, 0.5), (5, -0.25)]  # (vec_id, weight)


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


@gate("v_discover_topk", oracle=V_DISCOVER_SQL)
def v_discover_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V_DISCOVER (tests/bin/tests.sql:121-137): target vector combined
    with weighted context vectors resolved by id, context excluded."""

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


V_RANDOM_SAMPLE_SQL = """
SELECT least(25, count(*))::BIGINT AS n_rows,
       least(25, count(*))::BIGINT AS n_valid_ids,
       least(25, count(*))::BIGINT AS n_distinct
FROM embeddings
"""


@gate("v_random_sample", oracle=V_RANDOM_SAMPLE_SQL)
def v_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY V_RANDOM() LIMIT n`` random sampling
    (tests/bin/tests.sql:310-320), graded property-form: the sampled *ids*
    are engine-specific RNG, but three properties of the sample are
    deterministic and oracle-checkable — ``n_rows`` (= min(25, |T|)),
    ``n_valid_ids`` (every sampled id exists in the source, proven by a
    semi-join back), and ``n_distinct`` (ORDER BY + LIMIT samples without
    replacement over a unique key).  The V_RANDOM sampling path genuinely
    executes on the Spark side; the semi-join probes its output."""

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


# ===========================================================================
# round-2 gate additions: JSON array containment (@>) + LSH-bucket ANN
# ===========================================================================

#: literal hyperplanes (seed-derived, shared with the oracle) — signs of
#: dot products against these are the LSH bucket key
LSH_PLANES = [_seeded_vec(64, 80 + i) for i in range(4)]


PAYLOAD_CONTAINS_SQL = """
SELECT doc_id, lang FROM documents WHERE list_contains([lang, source], 'src3')
"""


@gate("payload_contains", oracle=PAYLOAD_CONTAINS_SQL)
def payload_contains_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON array containment — the ``payload->'tags' @> '["..."]'`` shape
    (reference tests/bin/tests.sql:224).  The payload JSON is constructed
    from document metadata inside the query (the test tables carry no raw
    JSON tags column), then *parsed back* through the containment kernel,
    so the gate exercises the real get_json_object → from_json →
    array_contains path end to end."""

    docs = _t(spark, sf_dir, "documents")
    payload = F.to_json(F.struct(F.array("lang", "source").alias("tags")))
    return (
        docs.select("doc_id", "lang", payload.alias("payload"))
        .filter(payload_contains(F.col("payload"), "tags", "src3"))
        .select("doc_id", "lang")
    )


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


@gate("lsh_bucket_topk", oracle=_lsh_oracle_sql())
def lsh_bucket_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k probing the query's random-hyperplane LSH bucket
    plus all Hamming-1 neighbors (multiprobe).  Literal planes make the
    bucket assignment deterministic, so the oracle reproduces the exact
    probe set and scores — a full value oracle for the approximate path."""

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb.select(F.col("vec_id").alias("id"), "embedding"),
        "embedding",
        QUERY_VEC,
        LSH_PLANES,
        k=10,
    )
    return out.select("id", F.round("score", 6).alias("score"))


# ===========================================================================
# scale-default similarity paths: multi-table LSH for embedding dedup and
# the kNN graph (the exact block-GEMM grid is the verify/oracle tier; these
# bucketed forms are what survives 100×)
# ===========================================================================

#: 16 tables × 4 hyperplanes (seeds 200..263) — measured 0.96 pair recall
#: at threshold 0.35 on the test corpus.  Kept as the reference constant
#: for auto_bucket_planes' determinism test; the LSH gates use the
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


@gate("ann_knn_graph_blocked", oracle=ANN_KNN_GRAPH_BLOCKED_SQL)
def ann_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph via LSH-blocked candidates — the gated scale default
    (ann_knn_graph keeps the exact block-GEMM grid as the oracle tier)."""

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


@gate("quant_error_stats", oracle=QUANT_ERROR_STATS_SQL)
def quant_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization fidelity audit as a gated value: max |x - x̂|
    per vector, aggregated; bound_ok pins err ≤ scale/2."""

    emb = _t(spark, sf_dir, "embeddings")
    return quantization_error_stats(emb, "embedding", "vec_id")


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


@gate("v_search_scalar_quant", oracle=V_SEARCH_SCALAR_QUANT_SQL)
def v_search_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine over RECONSTRUCTED int8-quantized vectors — what a
    search against scalar-compressed storage returns.  Deterministic
    floor(x+0.5) code assignment ⇒ full value oracle."""

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


def _binary_quant_oracle_sql() -> str:

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


@gate("v_search_binary_quant", oracle=_binary_quant_oracle_sql())
def v_search_binary_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary-quantized search: Hamming shortlist over packed
    sign bits (8 B per 64 dims — the stage-1 scan at 100 TB) → exact
    cosine rerank.  Shortlist ties break on id ⇒ deterministic ⇒ full
    value oracle."""

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return binary_search_topk(
        emb, "embedding", "vec_id", QUERY_VEC, k=10, shortlist=64
    )


#: seeded literal PQ codebooks (8 subspaces × 16 centroids × dim 8) — the
#: same literal-centroids trick as ann_ivf_topk: training is pytest-covered
#: (train_pq_codebooks is deterministic), the gate pins encode+ADC+rerank
EMB_PQ_BOOKS = [
    [_seeded_vec(8, 300 + s * 16 + j) for j in range(16)] for s in range(8)
]


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


@gate("ann_pq_topk", oracle=_pq_oracle_sql())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized search: per-subspace nearest-centroid codes, ADC
    shortlist (m table lookups per row), exact cosine rerank."""

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return pq_search_topk(
        emb, "embedding", "vec_id", QUERY_VEC, EMB_PQ_BOOKS, k=10, rerank=64
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


@gate("ann_ivfpq_topk", oracle=_ivfpq_oracle_sql())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition: coarse-cell probe (partition-prunable) → ADC
    shortlist over codes → exact cosine rerank.  Literal centroids AND
    codebooks ⇒ full value oracle for the whole two-level index."""

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


@gate("group_centroids", oracle=GROUP_CENTROIDS_SQL)
def group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector — the distributed centroid computation
    behind clustering summaries and by-group V_RECOMMEND positives
    (groupwise sibling of SQL V_MEAN_VEC).  posexplode → (label, dim)
    decimal-sum aggregation (order-independent ⇒ oracle-exact).  Shuffles
    only (label, dim) partials, never whole vectors — the same shape
    train_ivf_centroids uses, here as a gated query.

    Output is LONG-FORM ``(label, pos, m, n)`` — one row per centroid
    dimension, scalar columns only.  (The r4 wide form carried the
    centroid as ``array<double>``, which the correctness check's pandas sort
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


# the UDAF path must match the native-aggregation oracle verbatim
@gate("v_centroid_udaf", oracle=GROUP_CENTROIDS_SQL)
def v_centroid_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-label centroid as group_centroids, but through the
    Spark-4 grouped-aggregate pandas UDF surface (SURVEY §2.10):
    ``GROUP BY label`` with V_CENTROID(embedding), then posexplode to
    the gate's long form.  The UDAF replicates the exact fixed-point
    average (functions/agg_fns.py), so the oracle is group_centroids'
    verbatim — the two paths must agree bit-for-bit.  Production path
    at 100 TB stays the native partial aggregation (a grouped-agg UDF
    ships whole groups); this gate proves the registration hook."""

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


#: fixed vocabulary for the inverted-index sparse gate: word → index
_SPARSE_VOCAB = ["spark", "join", "merge", "window", "data", "query"]
#: two weighted term queries over that vocabulary
_SPARSE_BATCH = [
    (1, {"spark": 2.0, "join": 1.5, "merge": 1.0, "window": 0.5}),
    (2, {"data": 1.0, "query": 2.0, "join": 0.25}),
]


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


@gate("v_sparse_batch_inverted", oracle=_sparse_batch_oracle_sql())
def v_sparse_batch_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sparse retrieval on the SCALE path: documents become
    term-count sparse vectors over a fixed vocabulary, queries broadcast,
    and scoring runs as explode → broadcast join on the term index →
    partial-agg sum (`sparse_dot_join`) — the inverted-index shape whose
    only shuffle is the final (doc, query) groupBy.  Top-5 per query."""

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


_JL_IN, _JL_OUT, _JL_SEED = 64, 8, "jl-r3"


def _jl_oracle_sql() -> str:

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


@gate("embed_jl_project", oracle=_jl_oracle_sql())
def embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64→8 dims over the embeddings table; the
    gate compares the first four projected coordinates rounded to 6dp.  The
    seed regenerates the same sign matrix in both engines, and the
    left-to-right fold order makes the double sums bit-identical."""

    emb = _t(spark, sf_dir, "embeddings")
    proj = jl_project("embedding", _JL_IN, _JL_OUT, seed=_JL_SEED)
    return emb.select(
        "vec_id",
        *[
            F.round(F.element_at(proj, i + 1), 6).alias(f"p{i}")
            for i in range(4)
        ],
    )


def _knn_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine kNN table (id, nbr_id, score, rank) over
    embeddings — the identical construction ann_knn_graph emits and
    graph_pagerank / graph_trustrank / graph_hits start from.  Built
    once per (session, sf_dir) and pinned with an eager localCheckpoint,
    so the blocked-GEMM scoring pass runs once per sweep instead of once
    per gate (round 12: widened from the 2-col edge projection so the
    ann gate rides it too)."""

    def build(pin):
        emb = _t(spark, sf_dir, "embeddings")
        return pin(self_knn_join(emb, "embedding", "vec_id", k=5), lineage=False)

    return shared_build(spark, ("knn", sf_dir), build)


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


@gate("v_search_mmr", oracle=_mmr_oracle_sql())
def v_search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-10 (λ=0.7) against the shared literal query —
    the diversity-aware sibling of v_search_topk: picks trade relevance
    against max-similarity to the already-picked set, all-integer
    argmax so the unrolled DuckDB oracle matches exactly.  See
    operators.ann.mmr_select for the scale/driver-state argument."""

    emb = _t(spark, sf_dir, "embeddings")
    picks = mmr_select(
        emb, "embedding", "vec_id", QUERY_VEC, k=10, lambda_pct=70
    )
    return spark.createDataFrame(
        picks, "rank int, vec_id long, mmr_units long"
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


@gate("v_search_matryoshka", oracle=V_SEARCH_MATRYOSHKA_SQL)
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


HN_K, HN_LO, HN_HI, HN_OVERFETCH = 3, 0.2, 0.9, 20


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


@gate("ann_hard_negatives", oracle=ANN_HARD_NEGATIVES_SQL)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard-negative mining over embeddings: per anchor, the
    top-3 neighbors with cosine in [0.2, 0.9) drawn from the exact
    top-20 list — similar-but-not-duplicate training negatives.  See
    ann.hard_negatives (blocked-GEMM candidates, sequential-exact
    re-score, rounded-6 band both engines share)."""

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
