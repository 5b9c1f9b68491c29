"""Graph gates over the embedding kNN graph: PageRank, TrustRank, HITS."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qdrant_datafusion_spark.operators.graph import hits, pagerank

from ._common import gate
from .vector import _knn_table


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (src, dst) edge projection of the memoized kNN table."""
    return _knn_table(spark, sf_dir).select(
        F.col("id").alias("src"), F.col("nbr_id").alias("dst")
    )


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


@gate("graph_pagerank", oracle=_pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-centrality data selection: PageRank (3 fixed-point
    iterations, d=0.85) over the corpus kNN graph (exact top-5 cosine
    neighbors — the ann_knn_graph edges).  All rank arithmetic is
    integer HALF_UP in 1e-9 units, so the DuckDB oracle unrolling the
    identical arithmetic matches bit-for-bit; see operators.graph."""

    return pagerank(_knn_edges(spark, sf_dir), "src", "dst", iters=3)


#: trusted seed set for graph_trustrank (first 10 vectors stand in for a
#: hand-vetted corpus; deterministic, oracle-literal)
TRUST_SEEDS = list(range(10))


@gate("graph_trustrank", oracle=_pagerank_oracle_sql(seeds=TRUST_SEEDS, limit=50))
def graph_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (personalized PageRank, Gyöngyi et al. 2004): quality
    propagation from a trusted seed set through the kNN similarity
    graph — teleport mass goes only to seeds, so rank measures
    proximity to the vetted corpus.  Same all-integer arithmetic as
    graph_pagerank; top-50 by rank (rank desc, node asc) keeps the gate
    output focused on the endorsed set."""

    out = pagerank(
        _knn_edges(spark, sf_dir), "src", "dst", iters=3, seeds=TRUST_SEEDS
    )
    return out.orderBy(F.desc("rank_units"), F.asc("node")).limit(50)


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


@gate("graph_hits", oracle=_hits_oracle_sql())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the same corpus
    kNN graph the pagerank pair uses (shared memoized edge table):
    authorities = documents many neighborhoods point at (canonical —
    keep), hubs = documents whose neighbor lists cover many authorities
    (diversity-sampling seeds).  Integer L1-normalized iteration, so the
    unrolled DuckDB oracle matches bit-for-bit; see operators.graph.hits
    for the shuffle-shape and overflow arguments."""

    return hits(_knn_edges(spark, sf_dir), "src", "dst", iters=2)
