"""Kernel correctness against NumPy oracles (the build plan's step-1 gate,
SURVEY.md §7) + NULL-tolerance rules (§7 'heterogeneous nulls in kernels')."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_datafusion_spark import fixtures
from qdrant_datafusion_spark.functions import (
    cosine_similarity,
    dot_product,
    euclid_distance,
    has_field,
    manhattan_distance,
    match_text,
    payload_contains,
    payload_get,
    v_colbert,
    v_discover,
    v_distance,
    v_fusion,
    v_recommend,
    v_search,
    v_sparse_search,
    v_within,
)
from qdrant_datafusion_spark.operators import batch_search, top_k


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        ("a", [1.0, 2.0, 3.0]),
        ("b", [-1.0, 0.5, 2.0]),
        ("c", None),
    ]
    return spark.createDataFrame(rows, "id string, v array<float>")


Q = [0.5, -1.0, 2.0]


def _np_cos(a, b):
    a, b = np.array(a), np.array(b)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


class TestDistanceKernels:
    def test_dot(self, vec_df):
        got = {r.id: r.s for r in vec_df.select("id", dot_product("v", Q).alias("s")).collect()}
        assert got["a"] == pytest.approx(np.dot([1, 2, 3], Q))
        assert got["b"] == pytest.approx(np.dot([-1, 0.5, 2], Q))
        assert got["c"] is None

    def test_cosine(self, vec_df):
        got = {r.id: r.s for r in vec_df.select("id", cosine_similarity("v", Q).alias("s")).collect()}
        assert got["a"] == pytest.approx(_np_cos([1, 2, 3], Q))
        assert got["c"] is None

    def test_euclid_and_manhattan(self, vec_df):
        got = vec_df.select(
            "id",
            euclid_distance("v", Q).alias("e"),
            manhattan_distance("v", Q).alias("m"),
        ).collect()
        by = {r.id: r for r in got}
        assert by["a"].e == pytest.approx(np.linalg.norm(np.array([1, 2, 3]) - Q))
        assert by["a"].m == pytest.approx(np.abs(np.array([1, 2, 3]) - Q).sum())
        assert by["c"].e is None and by["c"].m is None

    def test_v_search_negates_distance_metrics(self, vec_df):
        """Higher-is-better convention: euclid scores are negated distances."""
        got = {r.id: r.s for r in vec_df.select("id", v_search("v", Q, "euclid").alias("s")).collect()}
        assert got["a"] == pytest.approx(-np.linalg.norm(np.array([1, 2, 3]) - Q))

    def test_v_search_descriptor_metric_lookup(self, spark):
        df = fixtures.hetero_df(spark)
        s = df.select(
            v_search(
                "image_embedding",
                [1.0, 0.0, 0.0, 0.0],
                descriptor=fixtures.HETERO,
                field="image_embedding",
            ).alias("s")
        ).collect()
        vals = [r.s for r in s if r.s is not None]
        # dot metric from descriptor: first component of point 2's image vec
        assert vals == [pytest.approx(0.6, abs=1e-6)]

    def test_v_distance_and_within(self, vec_df):
        got = vec_df.select(
            "id",
            v_distance("v", Q, "cosine").alias("d"),
            v_within("v", Q, 2.5, "euclid").alias("w"),
        ).collect()
        by = {r.id: r for r in got}
        assert by["a"].d == pytest.approx(1 - _np_cos([1, 2, 3], Q))
        assert by["a"].w == (np.linalg.norm(np.array([1, 2, 3]) - Q) < 2.5)
        assert by["c"].d is None and by["c"].w is None


class TestSparse:
    def test_sparse_dot(self, spark):
        df = fixtures.hetero_df(spark)
        got = {
            r.id: r.s
            for r in df.select(
                "id",
                v_sparse_search(
                    "keywords_indices", "keywords_values", {0: 1.0, 5: 2.0, 3: 3.0}
                ).alias("s"),
            ).collect()
        }
        # p1: idx [0,5] val [.1,.9] -> 1*.1 + 2*.9 = 1.9
        assert got["1"] == pytest.approx(1.9, abs=1e-6)
        # p2: idx [1,3] val [.7,.4] -> 3*.4 = 1.2
        assert got["2"] == pytest.approx(1.2, abs=1e-6)
        # p3: no overlap -> 0
        assert got["3"] == pytest.approx(0.8 * 0.0 + 0.0, abs=1e-6)

    def test_sparse_dot_join_matches_kernel(self, spark):
        from qdrant_datafusion_spark.functions.sparse import sparse_dot_join

        df = fixtures.hetero_df(spark)
        queries = spark.createDataFrame(
            [("q1", [0, 5, 3], [1.0, 2.0, 3.0])],
            "query_id string, indices array<long>, values array<float>",
        )
        out = sparse_dot_join(
            df, queries, id_col="id",
            indices_col="keywords_indices", values_col="keywords_values",
        ).collect()
        got = {r.id: r.score for r in out}
        assert got["1"] == pytest.approx(1.9, abs=1e-6)
        assert got["2"] == pytest.approx(1.2, abs=1e-6)
        # p3 has no overlapping index -> absent from join output (score 0)
        assert "3" not in got


class TestMultiVector:
    def test_maxsim_numpy_oracle(self, spark):
        df = fixtures.hetero_df(spark)
        q = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]]
        got = {r.id: r.s for r in df.select("id", v_colbert("multi_embeddings", q).alias("s")).collect()}
        doc = np.array([[0.7, 0.8], [0.9, 0.1]])
        expected = sum(max(np.array(qi) @ d for d in doc) for qi in q)
        assert got["1"] == pytest.approx(expected, abs=1e-6)
        assert got["2"] is None

    def test_maxsim_ragged(self, spark):
        rows = [("x", [[1.0, 0.0]]), ("y", [[0.0, 1.0], [1.0, 1.0], [0.5, 0.0]])]
        df = spark.createDataFrame(rows, "id string, mv array<array<float>>")
        q = [[2.0, 1.0]]
        got = {r.id: r.s for r in df.select("id", v_colbert("mv", q).alias("s")).collect()}
        assert got["x"] == pytest.approx(2.0)
        assert got["y"] == pytest.approx(3.0)  # max(1, 3, 1)


class TestComposite:
    def test_recommend_literal(self, vec_df):
        pos = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        neg = [[0.0, 0.0, 1.0]]
        comp = [0.5, 0.5, -1.0]
        got = {r.id: r.s for r in vec_df.select("id", v_recommend("v", pos, neg).alias("s")).collect()}
        assert got["a"] == pytest.approx(_np_cos([1, 2, 3], comp))

    def test_recommend_no_negatives(self, vec_df):
        got = vec_df.select(v_recommend("v", [[1.0, 0.0, 0.0]]).alias("s")).collect()
        assert got[0].s is not None

    def test_recommend_by_ids_excludes_examples(self, spark):
        from qdrant_datafusion_spark.functions.composite import recommend_by_ids

        df = fixtures.unnamed_df(spark)
        out = recommend_by_ids(df, "vector", ["1"], ["2"]).collect()
        ids = {r.id for r in out}
        assert ids == {"3"}

    def test_discover(self, vec_df):
        target = [1.0, 0.0, 0.0]
        ctx = [([0.0, 1.0, 0.0], 0.5)]
        comp = [1.0, 0.5, 0.0]
        got = {r.id: r.s for r in vec_df.select("id", v_discover("v", target, ctx).alias("s")).collect()}
        assert got["a"] == pytest.approx(_np_cos([1, 2, 3], comp))


class TestFusionScalar:
    def test_weighted_sum_and_max(self, spark):
        df = spark.createDataFrame([(0.7, 0.3)], "s1 double, s2 double")
        row = df.select(
            v_fusion([F.col("s1"), F.col("s2")], "weighted_sum", [0.7, 0.3]).alias("w"),
            v_fusion([F.col("s1"), F.col("s2")], "max").alias("m"),
            v_fusion([F.col("s1"), F.col("s2")], "rrf").alias("r"),
        ).collect()[0]
        assert row.w == pytest.approx(0.7 * 0.7 + 0.3 * 0.3)
        assert row.m == pytest.approx(0.7)
        assert row.r == pytest.approx(1 / 60.7 + 1 / 60.3)


class TestJson:
    def test_payload_surface(self, spark):
        rows = [
            ("1", '{"title": "T", "price": 150, "tags": ["a", "b"], "address": {"city": "Paris"}}'),
            ("2", None),
        ]
        df = spark.createDataFrame(rows, "id string, payload string")
        got = df.select(
            "id",
            has_field("payload", "title").alias("hf"),
            payload_get("payload", "address.city").alias("city"),
            payload_contains("payload", "tags", "a").alias("has_a"),
            payload_contains("payload", "tags", "z").alias("has_z"),
        ).collect()
        by = {r.id: r for r in got}
        assert by["1"].hf and by["1"].city == "Paris"
        assert by["1"].has_a is True and by["1"].has_z is False
        assert not by["2"].hf and by["2"].city is None

    def test_json_length_and_keys(self, spark):
        """datafusion-functions-json json_length semantics (reference
        src/udfs.rs:13-16): array -> element count, object -> key count,
        scalar/invalid/NULL -> NULL."""
        from qdrant_datafusion_spark.functions.json_fns import json_keys, json_length

        rows = [
            ("arr", "[1, 2, 3]"),
            ("obj", '{"x": 1, "y": {"z": 2}}'),
            ("scalar", "42"),
            ("bad", "{nope"),
            ("none", None),
        ]
        df = spark.createDataFrame(rows, "id string, j string")
        got = {
            r.id: r
            for r in df.select(
                "id",
                json_length("j").alias("n"),
                json_keys("j").alias("ks"),
            ).collect()
        }
        assert got["arr"].n == 3 and got["arr"].ks is None
        assert got["obj"].n == 2 and got["obj"].ks == ["x", "y"]
        assert got["scalar"].n is None
        assert got["bad"].n is None
        assert got["none"].n is None and got["none"].ks is None

    def test_json_length_sql_registration(self, spark):
        from qdrant_datafusion_spark.functions.registry import register_all

        register_all(spark)
        r = spark.sql(
            """SELECT JSON_LENGTH('[1,2]') a, JSON_LENGTH('{"x":1}') b,
                      JSON_LENGTH('s') c"""
        ).collect()[0]
        assert r.a == 2 and r.b == 1 and r.c is None


class TestText:
    def test_match_text(self, spark):
        df = spark.createDataFrame([("1", "Spark joins data fast")], "id string, text string")
        r = df.select(
            match_text("text", "spark data").alias("full"),
            match_text("text", "spark missing").alias("half"),
            match_text("text", "absent words here").alias("none"),
        ).collect()[0]
        assert r.full == pytest.approx(1.0)
        assert r.half == pytest.approx(0.5)
        assert r.none == pytest.approx(0.0)

    def test_shingles_short_text(self, spark):
        from qdrant_datafusion_spark.functions.text import word_shingles

        df = spark.createDataFrame([("1", "one two"), ("2", "a b c d")], "id string, text string")
        got = {r.id: r.sh for r in df.select("id", word_shingles("text", 3).alias("sh")).collect()}
        assert got["1"] == []
        assert got["2"] == ["a b c", "b c d"]


class TestGeo:
    def test_haversine_known_distance(self, spark):
        from qdrant_datafusion_spark.functions.geo import v_geo_distance

        # Paris -> Berlin is ~877.46 km
        df = spark.createDataFrame([(48.8566, 2.3522)], "lat double, lon double")
        d = df.select(v_geo_distance(F.col("lat"), F.col("lon"), 52.52, 13.405).alias("d")).collect()[0].d
        assert d == pytest.approx(877_460, rel=0.01)


class TestSqlRegistry:
    def test_sql_callable(self, spark):
        from qdrant_datafusion_spark.functions import register_all

        register_all(spark)
        fixtures.unnamed_df(spark).createOrReplaceTempView("unnamed_c")
        rows = spark.sql(
            "SELECT id, V_SEARCH(vector, array(0.1F, 0.2F, 0.3F)) AS score "
            "FROM unnamed_c ORDER BY score DESC, id LIMIT 2"
        ).collect()
        assert rows[0].score == pytest.approx(1.0, abs=1e-6)

    def test_udtf_table_function_from_sql(self, spark):
        """SURVEY §2.10 UDTF hook: V_SEARCH_TABLE(TABLE(...), q, k) is a
        Spark-4 Python UDTF — per-partition bounded top-k emitted from
        terminate(), refined by the outer ORDER BY/LIMIT.  Must agree
        exactly with the scalar V_SEARCH kernel over the same rows, and
        must stay bounded at <= k rows per partition pre-refine."""
        import json

        from qdrant_datafusion_spark.functions import register_all

        register_all(spark)
        df = fixtures.unnamed_df(spark).repartition(4)
        df.createOrReplaceTempView("_udtf_t")
        q = [0.1, 0.2, 0.3]
        got = spark.sql(
            f"""
            SELECT vec_id, score
            FROM V_SEARCH_TABLE(
              TABLE(SELECT CAST(id AS BIGINT) AS vec_id,
                           CAST(vector AS ARRAY<DOUBLE>) AS embedding
                    FROM _udtf_t),
              '{json.dumps(q)}', 2)
            ORDER BY score DESC, vec_id ASC LIMIT 2
            """
        ).collect()
        want = spark.sql(
            "SELECT CAST(id AS BIGINT) AS vec_id, round(V_SEARCH(CAST(vector AS "
            "ARRAY<DOUBLE>), array(0.1D, 0.2D, 0.3D)), 6) AS score "
            "FROM _udtf_t ORDER BY score DESC, vec_id LIMIT 2"
        ).collect()
        assert [(r.vec_id, r.score) for r in got] == [
            (r.vec_id, r.score) for r in want
        ]
        # pre-refine output is bounded: <= k rows per input partition
        pre = spark.sql(
            f"""
            SELECT * FROM V_SEARCH_TABLE(
              TABLE(SELECT CAST(id AS BIGINT) AS vec_id,
                           CAST(vector AS ARRAY<DOUBLE>) AS embedding
                    FROM _udtf_t),
              '{json.dumps(q)}', 2)
            """
        ).count()
        assert pre <= 2 * 4

    def test_udtf_score_matches_spark_round_half_up(self, spark):
        """The UDTF rounds with decimal HALF_UP like Spark's
        round(double, 6) — NOT Python's half-even builtin.  A score
        landing exactly on a .5e-6 boundary must round UP on both
        paths (0.1234565 -> 0.123457, where round() gives 0.123456)."""
        from qdrant_datafusion_spark.functions.table_fns import (
            _fold_dot,
            _round6_half_up,
        )

        assert _round6_half_up(0.1234565) == 0.123457
        assert round(0.1234565, 6) == 0.123456  # builtin disagrees
        spark_r = spark.sql(
            "SELECT round(CAST(0.1234565 AS DOUBLE), 6) AS r"
        ).first().r
        assert spark_r == _round6_half_up(0.1234565)
        # and the fold order is the scalar kernel's sequential left
        # fold, not a reordered pairwise sum
        v = [1e16, 1.0, -1e16, 1.0]
        q = [1.0, 1.0, 1.0, 1.0]
        seq = 0.0
        for x, y in zip(v, q):
            seq += x * y
        assert _fold_dot(v, q) == seq

    def test_udaf_grouped_centroid_from_sql(self, spark):
        """SURVEY §2.10 UDAF hook: V_CENTROID is a grouped-aggregate
        pandas UDF callable from SQL GROUP BY; its exact fixed-point
        average must agree bit-for-bit with the independent per-dim
        decimal reference."""
        from decimal import ROUND_HALF_UP, Decimal

        from qdrant_datafusion_spark.functions import register_all

        register_all(spark)
        rows = [(0, [1.0, 2.5]), (0, [2.0, 0.5]), (1, [0.1, 0.2]),
                (0, None), (1, [0.2, 0.1])]
        spark.createDataFrame(
            rows, "g int, v array<double>"
        ).createOrReplaceTempView("_udaf_t")
        got = {
            r.g: r.c
            for r in spark.sql(
                "SELECT g, V_CENTROID(v) AS c FROM _udaf_t "
                "WHERE v IS NOT NULL GROUP BY g"
            ).collect()
        }

        def ref(vecs):
            q12 = Decimal("1e-12")
            sums = [0] * len(vecs[0])
            for v in vecs:
                for i, x in enumerate(v):
                    sums[i] += int(
                        Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)
                        * 10**12
                    )
            q = len(vecs) * 10**6
            return [
                ((-((2 * abs(s) + q) // (2 * q)))
                 if s < 0 else ((2 * abs(s) + q) // (2 * q))) / 1e6
                for s in sums
            ]

        assert got[0] == ref([[1.0, 2.5], [2.0, 0.5]]) == [1.5, 1.5]
        assert got[1] == ref([[0.1, 0.2], [0.2, 0.1]])

    def test_json_named_getter_aliases(self, spark):
        """The reference registers the datafusion-functions-json getters
        by NAME (reference src/udfs.rs:13-16); SQL calling those names
        verbatim must run: typed extraction, dotted paths, lenient NULL
        on type mismatch / absent key."""
        from qdrant_datafusion_spark.functions import register_all

        register_all(spark)
        r = spark.sql(
            """
            SELECT JSON_GET_STR(j, 'name')             AS s,
                   JSON_GET_STR(j, 'address.city')     AS nested,
                   JSON_GET_INT(j, 'age')              AS i,
                   JSON_GET_INT(j, 'name')             AS bad_int,
                   JSON_GET_FLOAT(j, 'score')          AS f,
                   JSON_GET_BOOL(j, 'active')          AS b,
                   JSON_AS_TEXT(j, 'age')              AS t,
                   JSON_CONTAINS(j, 'age')             AS has_age,
                   JSON_CONTAINS(j, 'missing')         AS has_missing,
                   JSON_LENGTH(j)                      AS n_keys,
                   JSON_GET_JSON(j, 'name')            AS jj_str,
                   JSON_GET_JSON(j, 'address')         AS jj_obj,
                   JSON_GET_JSON(j, 'missing')         AS jj_missing,
                   JSON_GET_JSON('not json', 'x')      AS jj_malformed
            FROM (SELECT '{"name":"ada","age":36,"score":9.5,"active":true,
                          "address":{"city":"london"}}' AS j)
            """
        ).collect()[0]
        assert (r.s, r.nested, r.i, r.bad_int) == ("ada", "london", 36, None)
        assert r.f == pytest.approx(9.5) and r.b is True
        assert (r.t, r.has_age, r.has_missing, r.n_keys) == ("36", True, False, 5)
        # json_get_json re-encodes AS JSON: strings re-quoted, objects as
        # JSON text — get_json_object semantics can't express this
        assert r.jj_str == '"ada"'
        assert r.jj_obj == '{"city":"london"}'
        # lenient like every sibling getter: absent key AND malformed
        # JSON yield NULL (try_parse_json), never a runtime error
        assert r.jj_missing is None
        assert r.jj_malformed is None


class TestCorpusEdgeCases:
    """The reference corpus's explicit edge cases
    (reference tests/bin/tests.sql:385-407)."""

    def test_empty_query_vector_is_graceful_null(self, spark):
        # tests.sql:390-392 — V_SEARCH([]) must not error; NULL score, so
        # `WHERE V_SEARCH([]) IS NOT NULL` simply selects nothing
        df = fixtures.unnamed_df(spark)
        rows = df.filter(
            v_search("vector", []).isNotNull()
        ).select("id").limit(1).collect()
        assert rows == []
        scores = df.select(v_search("vector", []).alias("s")).collect()
        assert all(r.s is None for r in scores)

    def test_recommend_null_negatives(self, spark):
        # tests.sql:395-398 — NULL negative list tolerated: score equals
        # plain search against avg(positives)
        df = fixtures.unnamed_df(spark)
        pos = [[0.1, 0.2, 0.3], [0.3, 0.2, 0.1]]
        with_null_neg = {
            r.id: r.s
            for r in df.select(
                "id", v_recommend("vector", pos, None).alias("s")
            ).collect()
        }
        avg_pos = [0.2, 0.2, 0.2]
        plain = {
            r.id: r.s
            for r in df.select(
                "id", v_search("vector", avg_pos).alias("s")
            ).collect()
        }
        for k in plain:
            assert with_null_neg[k] == pytest.approx(plain[k], abs=1e-6)

    def test_high_dimensional_sparse_query(self, spark):
        # tests.sql:401-407 — query indices far beyond any row's indices;
        # only overlapping terms contribute, no dimension bound anywhere
        df = fixtures.hetero_df(spark)
        q_idx = [1, 100, 500, 1000, 5000, 10000, 50000, 100000]
        q_val = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
        got = {
            r.id: r.s
            for r in df.select(
                "id",
                v_sparse_search(
                    "keywords_indices", "keywords_values",
                    list(zip(q_idx, q_val)),
                ).alias("s"),
            ).collect()
        }
        # p2 keywords: idx [1,3] val [.7,.4] -> only idx 1 overlaps: .1*.7
        assert got["2"] == pytest.approx(0.07, abs=1e-6)
        # p1 [0,5], p3 [2,4,6]: no overlap -> 0.0
        assert got["1"] == pytest.approx(0.0, abs=1e-6)
        assert got["3"] == pytest.approx(0.0, abs=1e-6)


class TestVocabTfidf:
    def test_vocab_stats_counts(self, spark):
        from qdrant_datafusion_spark.functions.text import vocab_stats

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "a c"), (3, "b")], "id long, text string"
        )
        rows = {r.token: (r.tf, r.df) for r in vocab_stats(df, "text", "id", 10).collect()}
        assert rows == {"a": (3, 2), "b": (2, 2), "c": (1, 1)}

    def test_tfidf_rank_prefers_rare_terms(self, spark):
        import math

        from qdrant_datafusion_spark.functions.text import tfidf_rank

        # "rare" appears in 1 of 4 docs, "common" in all 4: the doc with
        # one rare hit must outscore docs with only common hits
        df = spark.createDataFrame(
            [
                (1, "common rare"),
                (2, "common common common"),
                (3, "common"),
                (4, "common"),
            ],
            "id long, text string",
        )
        rows = tfidf_rank(df, "text", "id", "rare common", k=4).collect()
        assert rows[0].id == 1
        expected = 1.0 * math.log(4 / 1) + 1.0 * math.log(4 / 4)
        assert rows[0].score == pytest.approx(round(expected, 6), abs=1e-9)
        # absent term contributes 0, not an error
        out = tfidf_rank(df, "text", "id", "zzz common", k=1).collect()
        assert out[0].score == pytest.approx(0.0, abs=1e-9)


class TestVariantJson:
    def test_variant_matches_string_json_path(self, spark):
        from qdrant_datafusion_spark.functions.json_fns import (
            payload_get_float,
            variant_get_float,
            variant_get_string,
            variant_has_field,
        )

        df = spark.createDataFrame(
            [
                ('{"price": 42.5, "address": {"city": "Paris"}}',),
                ('{"address": {"city": "Rome"}}',),
                (None,),
            ],
            "payload string",
        )
        rows = df.select(
            payload_get_float("payload", "price").alias("s_price"),
            variant_get_float("payload", "price").alias("v_price"),
            variant_get_string("payload", "address.city").alias("city"),
            variant_has_field("payload", "price").alias("has_price"),
        ).collect()
        assert rows[0].s_price == rows[0].v_price == 42.5
        assert rows[0].city == "Paris" and rows[0].has_price
        assert rows[1].v_price is None and rows[1].city == "Rome" and not rows[1].has_price
        assert rows[2].v_price is None and not rows[2].has_price

    def test_null_valued_key_semantics_pinned(self, spark):
        """The two HAS_FIELD surfaces deliberately differ on {"k": null}:
        the string path reads a JSON-null key as absent (the reference's
        json_get existence idiom); the variant path can and does
        distinguish key-set-to-null from key-missing."""
        from qdrant_datafusion_spark.functions.json_fns import (
            has_field,
            variant_has_field,
        )

        df = spark.createDataFrame([('{"a": null, "b": 1}',)], "payload string")
        r = df.select(
            has_field("payload", "a").alias("s_null"),
            variant_has_field("payload", "a").alias("v_null"),
            has_field("payload", "c").alias("s_absent"),
            variant_has_field("payload", "c").alias("v_absent"),
        ).collect()[0]
        assert r.s_null is False and r.v_null is True
        assert r.s_absent is False and r.v_absent is False


class TestTextCleaning:
    PLANTED = [
        (1, "contact bob.smith+x@corp.example.com or call +1 (415) 555-0123 now"),
        (2, "server at 192.168.0.1 returned <b>error</b> &amp; retried"),
        (3, "plain text with no pii at all"),
        (4, "<div class='x'>nested <i>tags</i></div> stay out"),
    ]

    def test_redaction_and_counts(self, spark):
        from qdrant_datafusion_spark.functions.text import clean_text, pii_counts

        df = spark.createDataFrame(self.PLANTED, "id long, text string")
        rows = {
            r.id: r
            for r in df.select(
                "id",
                clean_text("text").alias("clean"),
                pii_counts("text").alias("c"),
            ).collect()
        }
        assert rows[1].clean == "contact [PII] or call [PII] now"
        assert rows[1].c.n_email == 1 and rows[1].c.n_phone >= 1
        assert rows[2].clean == "server at [PII] returned error retried"
        assert rows[2].c.n_ip == 1
        assert rows[3].clean == rows[3].clean == "plain text with no pii at all"
        assert rows[4].clean == "nested tags stay out"

    def test_cross_engine_regex_parity(self, spark):
        """The SAME pattern strings must behave identically in Spark's
        Java regex and DuckDB's RE2 — this pins the dialect-subset
        guarantee the oracle relies on."""
        import duckdb

        from qdrant_datafusion_spark.functions.text import (
            ENTITY_PATTERN,
            MARKUP_PATTERN,
            PII_PATTERNS,
            clean_text,
        )

        df = spark.createDataFrame(self.PLANTED, "id long, text string")
        got = {
            r.id: r.clean
            for r in df.select("id", clean_text("text").alias("clean")).collect()
        }
        con = duckdb.connect()
        cleaned = (
            f"trim(regexp_replace(regexp_replace(regexp_replace(t, "
            f"'{MARKUP_PATTERN}', ' ', 'g'), '{ENTITY_PATTERN}', ' ', 'g'), "
            f"'\\s+', ' ', 'g'))"
        )
        for _, pat in PII_PATTERNS:
            cleaned = f"regexp_replace({cleaned}, '{pat}', '[PII]', 'g')"
        for i, text in self.PLANTED:
            expect = con.execute(
                f"SELECT {cleaned} FROM (SELECT ? AS t)", [text]
            ).fetchone()[0]
            assert got[i] == expect, (i, got[i], expect)


class TestPmiPhrases:
    def test_collocation_ranks_above_frequent_pair(self, spark):
        import math

        from qdrant_datafusion_spark.functions.text import pmi_phrases

        # "san francisco" always adjacent (perfect collocation);
        # "the cat" co-occurs but both words are frequent elsewhere
        docs = ["san francisco is foggy the cat sat"] * 6
        docs += ["the dog sat", "a cat ran the end"] * 6
        df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                                   "doc_id long, text string")
        out = pmi_phrases(df, "text", min_count=5, top=10).collect()
        got = {(r["w1"], r["w2"]): r for r in out}
        assert ("san", "francisco") in got
        sf = got[("san", "francisco")]
        assert sf["c12"] == sf["c1"] == sf["c2"] == 6  # perfect pair
        if ("the", "cat") in got:
            assert sf["pmi_q"] > got[("the", "cat")]["pmi_q"]
        # quantized-log fixed point matches python
        n = sum(len(t.split()) for t in docs)
        q = lambda x: math.floor(math.log(x) * 1_000_000 + 0.5)
        assert sf["pmi_q"] == q(6) + q(n) - q(6) - q(6)

    def test_min_count_floor_and_top_slice(self, spark):
        from qdrant_datafusion_spark.functions.text import pmi_phrases

        docs = ["alpha beta"] * 4 + ["gamma delta"] * 7
        df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                                   "doc_id long, text string")
        out = pmi_phrases(df, "text", min_count=5, top=1).collect()
        # alpha-beta (4 < 5) filtered by the support floor; top=1 slices
        assert [(r["w1"], r["w2"]) for r in out] == [("gamma", "delta")]


def _ref_fold(v, q, term):
    """``aggregate(zip_with(v, q, term), 0.0, a + t)`` in plain Python:
    NULL for a NULL side or a length mismatch (zip_with pads with NULL),
    else the element terms added left to right."""
    if v is None or q is None or len(v) != len(q):
        return None
    acc = 0.0
    for x, y in zip(v, q):
        acc = acc + term(float(x), float(y))
    return acc


def _ref_kernel(metric, v, q):
    """Reference raw kernel: cosine similarity, dot, euclid or manhattan
    distance, each one sequential fold as documented in
    ``functions.distance.KERNELS``."""
    if metric == "cosine":
        dot = _ref_fold(v, q, lambda x, y: x * y)
        vv, qq = _ref_fold(v, v, lambda x, y: x * y), _ref_fold(q, q, lambda x, y: x * y)
        if dot is None or vv is None or qq is None:
            return None
        den = math.sqrt(vv) * math.sqrt(qq)
        return None if den == 0.0 else dot / den  # try_divide
    if metric == "dot":
        return _ref_fold(v, q, lambda x, y: x * y)
    if metric == "euclid":
        s = _ref_fold(v, q, lambda x, y: (x - y) * (x - y))
        return None if s is None else math.sqrt(s)
    return _ref_fold(v, q, lambda x, y: abs(x - y))


def _ref_score(metric, v, q):
    k = _ref_kernel(metric, v, q)
    return k if k is None or metric in ("cosine", "dot") else -k


def _ref_distance(metric, v, q):
    k = _ref_kernel(metric, v, q)
    if k is None or metric in ("euclid", "manhattan"):
        return k
    return 1.0 - k if metric == "cosine" else -k


def _bits(x):
    """Exact identity of a double (NaN included) or NULL."""
    return None if x is None else float(x).hex()


class TestScoreKernelReference:
    """Every score path renders the one kernel table of
    ``functions.distance``; each must equal a pure-Python sequential-fold
    reference bit for bit — the Column API (one ``F.expr`` and the lambda
    builder), ``top_k``, ``batch_search`` (hoisted norms), corpus SQL
    (DOUBLE literals, folded query norm) and the registered SQL
    functions, over the fixture embeddings plus edge rows: a NULL
    vector, a zero vector (NULL cosine through try_divide) and a shorter
    vector (NULL through zip_with padding)."""

    METRICS = ("cosine", "dot", "euclid", "manhattan")
    EDGE = [
        (-1, None),
        (-2, [0.0] * 64),
        (-3, [0.25] * 63),
        (-4, [1e-30] + [0.0] * 63),
    ]

    @pytest.fixture(scope="class")
    def coll(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v")
        )
        edge = spark.createDataFrame(self.EDGE, "id long, v array<float>")
        df = emb.unionByName(edge).cache()
        return df, {r.id: r.v for r in df.collect()}

    @staticmethod
    def _queries():
        rng = np.random.default_rng(17)
        q = rng.standard_normal(64).tolist()
        return {
            "gauss": q,
            "zero": [0.0] * 64,
            "nan": [float("nan")] + q[1:],
            "inf": [float("inf")] + q[1:],
        }

    def test_column_api_and_top_k(self, coll):
        df, vecs = coll
        for qname, q in self._queries().items():
            qcol = F.array(*[F.lit(x) for x in q])  # lambda-builder path
            for m in self.METRICS:
                rows = df.select(
                    "id",
                    v_search("v", q, m).alias("s"),
                    v_search(F.col("v"), qcol, m).alias("s_col"),
                    v_distance("v", q, m).alias("d"),
                    v_distance(F.col("v"), q, m).alias("d_col"),
                    v_within("v", q, 9.0, m).alias("w"),
                ).collect()
                for r in rows:
                    want = _bits(_ref_score(m, vecs[r.id], q))
                    assert _bits(r.s) == want, (qname, m, r.id)
                    assert _bits(r.s_col) == want, (qname, m, r.id)
                    dist = _ref_distance(m, vecs[r.id], q)
                    assert _bits(r.d) == _bits(dist) == _bits(r.d_col), (qname, m, r.id)
                    assert r.w == (None if dist is None else dist < 9.0), (qname, m, r.id)
        # the NULL / zero / shorter rows reach the NULL cases they name
        q = self._queries()["gauss"]
        by = {r.id: r.s for r in df.select("id", v_search("v", q).alias("s")).collect()}
        assert by[-1] is None and by[-2] is None and by[-3] is None
        assert by[-4] is not None
        for m in self.METRICS:
            got = [(r.id, _bits(r.score)) for r in top_k(df, "v", q, 10, m).collect()]
            ranked = sorted(
                ((i, _ref_score(m, v, q)) for i, v in vecs.items()),
                key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0]),
            )
            assert got == [(i, _bits(s)) for i, s in ranked[:10]], m

    def test_batch_search(self, spark, coll):
        df, vecs = coll
        qs = list(self._queries().values())
        queries = spark.createDataFrame(
            list(enumerate(qs)), "query_id int, query_vec array<double>"
        )
        for m in self.METRICS:
            rows = batch_search(df, queries, "v", 5, m).collect()
            assert len(rows) == 5 * len(qs), m
            for r in rows:
                assert _bits(r.score) == _bits(_ref_score(m, vecs[r.id], qs[r.query_id])), (m, r)

    def test_corpus_sql_and_registered(self, spark, coll):
        from qdrant_datafusion_spark.collections import CollectionDescriptor, VectorField
        from qdrant_datafusion_spark.functions import register_all
        from qdrant_datafusion_spark.sql_dialect import corpus_sql

        df, vecs = coll
        register_all(spark)
        names = {m: f"v_{m}" for m in self.METRICS}
        df.select("id", *[F.col("v").alias(n) for n in names.values()]).createOrReplaceTempView(
            "_kernel_ref"
        )
        desc = CollectionDescriptor(
            name="_kernel_ref",
            fields=tuple(VectorField(n, 64, m) for m, n in names.items()),
        )
        for qname in ("gauss", "zero"):
            q = self._queries()[qname]
            lit = "[" + ", ".join(repr(x) for x in q) + "]"
            text = "SELECT id, " + ", ".join(
                f"V_SEARCH('{n}', {lit}) AS {m}" for m, n in names.items()
            ) + " FROM _kernel_ref"
            for r in spark.sql(corpus_sql(text, desc, view="_kernel_ref")).collect():
                for m in self.METRICS:
                    assert _bits(r[m]) == _bits(_ref_score(m, vecs[r.id], q)), (qname, m, r.id)
            arr = "array(" + ", ".join(f"{x!r}D" for x in q) + ")"
            vcol = "CAST(v_cosine AS ARRAY<DOUBLE>)"
            kernels = {"V_SEARCH": "cosine", "V_COSINE": "cosine", "V_DOT": "dot", "V_EUCLID": "euclid"}
            reg = spark.sql(
                "SELECT id, "
                + ", ".join(f"{f}({vcol}, {arr}) AS {f}" for f in kernels)
                + ", "
                + ", ".join(f"V_DISTANCE({vcol}, {arr}, '{m}') AS {m}" for m in self.METRICS)
                + " FROM _kernel_ref"
            ).collect()
            for r in reg:
                v = vecs[r.id]
                for f, m in kernels.items():
                    assert _bits(r[f]) == _bits(_ref_kernel(m, v, q)), (qname, f, r.id)
                for m in self.METRICS:
                    assert _bits(r[m]) == _bits(_ref_distance(m, v, q)), (qname, m, r.id)

    def test_sparse(self, spark):
        from qdrant_datafusion_spark.functions import register_all

        big = 1 << 40  # an index past 2^31
        rows = [
            ("1", [0, 5], [0.1, 0.9]),
            ("2", [1, 3], [0.7, 0.4]),
            ("3", [2], [float("nan")]),
            ("4", None, None),
            ("5", [], []),
            ("6", [3, 0, 7], [1e-8, -2.5, 3.0]),
            ("7", [big, 2], [3.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "id string, i array<bigint>, v array<float>")
        df.createOrReplaceTempView("_sparse_ref")
        register_all(spark)
        vals = {r.id: (r.i, r.v) for r in df.collect()}
        for query in ({0: 1.0, 5: 2.0, 3: 3.0}, [(7, 0.25), (2, -1.5)], [(big, 2.0), (5, 0.5)], {}):
            qmap = dict(query)
            qi = ", ".join(f"{i}L" for i in qmap)
            qv = ", ".join(f"{x!r}D" for x in qmap.values())
            sql = spark.sql(
                f"SELECT id, V_SPARSE_SEARCH(i, v, CAST(array({qi}) AS ARRAY<BIGINT>), "
                f"CAST(array({qv}) AS ARRAY<DOUBLE>)) AS s FROM _sparse_ref"
            )
            by_sql = {r.id: r.s for r in sql.collect()}
            got = df.select(
                "id",
                v_sparse_search("i", "v", query).alias("s"),
                v_sparse_search(F.col("i"), F.col("v"), query).alias("s_col"),
            ).collect()
            for r in got:
                i, v = vals[r.id]
                want = _ref_fold(
                    i, v, lambda idx, val: qmap.get(int(idx), 0.0) * val
                )
                assert _bits(r.s) == _bits(want) == _bits(r.s_col), (query, r.id)
                assert _bits(by_sql[r.id]) == _bits(want), (query, r.id)
            assert by_sql["4"] is None and by_sql["5"] == 0.0
        # a NULL query scores NULL, like a NULL row
        nulls = spark.sql(
            "SELECT V_SPARSE_SEARCH(i, v, NULL, NULL) AS s FROM _sparse_ref"
        ).collect()
        assert {r.s for r in nulls} == {None}

    @staticmethod
    def _ref_maxsim(doc, q):
        """MaxSim as the sequential fold of ``functions.distance.MAXSIM``:
        per query sub-vector the best non-NULL dot (``array_max`` skips
        NULLs), added left to right from 0.0; a NULL or empty document, or
        one with no sub-vector of the query's length, is NULL."""
        if doc is None:
            return None
        acc = 0.0
        for qv in q:
            dots = [_ref_fold(d, qv, lambda x, y: x * y) for d in doc]
            dots = [s for s in dots if s is not None]
            if not dots:
                return None
            acc = acc + max(dots)
        return acc

    def test_colbert(self, spark):
        from qdrant_datafusion_spark.functions import register_all

        rng = np.random.default_rng(29)

        def vec(n=4):
            return [float(x) for x in rng.standard_normal(n)]

        rows = [
            ("1", [vec()]),
            ("2", [vec(), vec(), vec()]),
            ("3", [vec(), vec()]),
            ("4", None),
            ("5", []),
            ("6", [vec(3)]),  # no sub-vector of the query's length
            ("7", [vec(3), vec()]),
        ]
        df = spark.createDataFrame(rows, "id string, mv array<array<float>>")
        df.createOrReplaceTempView("_colbert_ref")
        register_all(spark)
        docs = {r.id: r.mv for r in df.collect()}
        for q in ([vec()], [vec(), vec()]):
            lit = "array(" + ", ".join(
                "array(" + ", ".join(f"{x!r}D" for x in qv) + ")" for qv in q
            ) + ")"
            by_sql = {
                r.id: r.s
                for r in spark.sql(
                    f"SELECT id, V_COLBERT(mv, {lit}) AS s FROM _colbert_ref"
                ).collect()
            }
            for r in df.select("id", v_colbert("mv", q).alias("s")).collect():
                want = _bits(self._ref_maxsim(docs[r.id], q))
                assert _bits(r.s) == _bits(by_sql[r.id]) == want, (len(q), r.id)
            assert by_sql["4"] is None and by_sql["5"] is None and by_sql["6"] is None
            assert by_sql["7"] is not None
