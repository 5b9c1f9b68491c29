"""Operator-level tests: top-k, batch search, prefetch-rerank, dedup
family, ANN — including exact-vs-approximate agreement checks."""

from __future__ import annotations

import hashlib
import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from qdrant_datafusion_spark import fixtures
from qdrant_datafusion_spark.functions.distance import v_search
from qdrant_datafusion_spark.functions.multivector import v_colbert
from qdrant_datafusion_spark.operators import (
    batch_search,
    dup_clusters,
    embedding_near_dups,
    exact_dedup,
    ivf_topk,
    knn_bruteforce,
    lsh_bucket_topk,
    minhash_lsh_dups,
    ngram_jaccard_dups,
    prefetch_rerank,
    simhash_dups,
    top_k,
)
from qdrant_datafusion_spark.operators.ann import assign_ivf_cells


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def rng_query():
    rng = random.Random(7)
    return [rng.uniform(-1, 1) for _ in range(64)]


class TestTopK:
    def test_top_k_excludes_null_vectors(self, spark):
        df = fixtures.hetero_df(spark)
        out = top_k(df, "test_embedding", [0.1, 0.2], 10).collect()
        assert [r.id for r in out] == ["1"]  # only point 1 carries the field

    def test_top_k_matches_numpy(self, emb, rng_query):
        got = knn_bruteforce(emb, "embedding", rng_query, 5, id_col="vec_id").collect()
        rows = emb.select("vec_id", "embedding").collect()
        q = np.array(rng_query)
        scores = {
            r.vec_id: float(np.dot(r.embedding, q) / (np.linalg.norm(r.embedding) * np.linalg.norm(q)))
            for r in rows
        }
        expected = sorted(scores, key=lambda i: (-scores[i], i))[:5]
        assert [r.vec_id for r in got] == expected

    def test_batch_search_per_query_k(self, spark, emb, rng_query):
        queries = spark.createDataFrame(
            [(1, rng_query), (2, [-x for x in rng_query])],
            "query_id int, query_vec array<float>",
        )
        out = batch_search(
            emb, queries, "embedding", k=3, id_col="vec_id"
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        assert len(by_q[1]) == 3 and len(by_q[2]) == 3
        # opposite queries produce reversed preference
        assert by_q[1][0].vec_id != by_q[2][0].vec_id

    def test_prefetch_rerank(self, spark, emb, rng_query):
        """Rerank top-50 cosine candidates by MaxSim: result ⊆ prefetch set."""
        mv = F.array(*[F.slice("embedding", 1 + 16 * c, 16) for c in range(4)])
        coll = emb.withColumn("mv", mv)
        q_multi = [rng_query[:16], rng_query[16:32]]
        out = prefetch_rerank(
            coll,
            prefetch_score=v_search("embedding", rng_query, "cosine"),
            rerank_score=v_colbert("mv", q_multi),
            prefetch_n=50,
            k=5,
            id_col="vec_id",
        ).collect()
        assert len(out) == 5
        prefetch_ids = {
            r.vec_id
            for r in knn_bruteforce(emb, "embedding", rng_query, 50, id_col="vec_id").collect()
        }
        assert {r.vec_id for r in out} <= prefetch_ids


class TestDedup:
    def test_exact_dedup_finds_planted_dup(self, spark):
        rows = [
            (1, "Hello World"),
            (2, "  hello world  "),  # trim+lower-normalizes equal to 1 and 3
            (3, "hello world"),
            (4, "hello  world"),  # inner double space -> distinct content
            (5, "something else"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        out = exact_dedup(df, "text", "id").collect()
        by_survivor = {r.id: r.dup_count for r in out}
        assert by_survivor[1] == 3
        assert by_survivor[4] == 1
        assert by_survivor[5] == 1
        assert len(out) == 3

    def test_minhash_recall_vs_exact(self, docs):
        exact = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_dups(docs, "text", "doc_id", 3, 0.2).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", 3, num_hashes=32, bands=16, threshold=0.2
            ).collect()
        }
        assert lsh == exact  # full recall at this banding + data scale

    def test_minhash_mllib_interop_matches_house_kernel(self, docs):
        """The stock pyspark.ml MinHashLSH tier must emit the identical
        verified pair set (ids AND exact inter/union integers) as the
        house banded kernel — the MLlib interop contract."""
        from qdrant_datafusion_spark.operators.dedup import (
            minhash_lsh_dups_mllib,
        )

        house = {
            (r.id_a, r.id_b, r.inter, r.n_union)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", 3, num_hashes=32, bands=16,
                threshold=0.2,
            ).collect()
        }
        mllib = {
            (r.id_a, r.id_b, r.inter, r.n_union)
            for r in minhash_lsh_dups_mllib(
                docs, "text", "doc_id", 3, num_hash_tables=32,
                threshold=0.2, seed=7,
            ).collect()
        }
        assert mllib == house

    def test_minhash_precomputed_buckets_identical(self, docs):
        """The persisted-signature-table path: a minhash_buckets table
        passed back via buckets=/corpus_buckets= must give exactly the
        internal build's answer, including the incremental split riding
        _id filters of ONE corpus-wide table."""
        from pyspark.sql import functions as F

        from qdrant_datafusion_spark.operators.dedup import (
            minhash_buckets,
            minhash_incremental_dups,
        )

        table = minhash_buckets(docs, "text", "doc_id", 3, 32, 16)
        direct = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", 3, num_hashes=32, bands=16,
                threshold=0.2,
            ).collect()
        }
        via_table = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", 3, num_hashes=32, bands=16,
                threshold=0.2, buckets=table,
            ).collect()
        }
        assert via_table == direct
        corpus = docs.filter(F.col("doc_id") % 2 != 0)
        batch = docs.filter(F.col("doc_id") % 2 == 0)
        incr_direct = {
            (r.id_a, r.id_b)
            for r in minhash_incremental_dups(
                corpus, batch, "text", "doc_id", 3, num_hashes=32,
                bands=16, threshold=0.2,
            ).collect()
        }
        incr_split = {
            (r.id_a, r.id_b)
            for r in minhash_incremental_dups(
                corpus, batch, "text", "doc_id", 3, num_hashes=32,
                bands=16, threshold=0.2,
                corpus_buckets=table.filter(F.col("_id") % 2 != 0),
                batch_buckets=table.filter(F.col("_id") % 2 == 0),
            ).collect()
        }
        assert incr_split == incr_direct

    def test_simhash_identical_texts_distance_zero(self, spark):
        rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zeta eta theta iota")]
        df = spark.createDataFrame(rows, "id long, text string")
        out = simhash_dups(df, "text", "id", max_hamming=0, blocks=4).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
        assert out[0].hamming == 0

    def test_dup_clusters_connected_components(self, spark):
        # two components: {1,2,3} (chain 1-2-3, no direct 1-3 edge) and {7,9}
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
        )
        out = {r.id: r.cluster_id for r in dup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    def test_dup_clusters_reliable_checkpoint_path(self, spark, tmp_path):
        # the fault-tolerant materialization for long cluster runs:
        # reliable=True persists rounds via checkpoint() to the configured
        # dir and must produce identical components
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
        )
        out = {
            r.id: r.cluster_id
            for r in dup_clusters(pairs, reliable=True).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    def test_select_canonical_keeps_best_quality(self, spark):
        from qdrant_datafusion_spark.operators.dedup import select_canonical

        # cluster {1,2,3}: scores 10, 30, 30 — tie at the top resolves to
        # the smaller id (2); 4 and 9 were never paired -> singletons kept
        df = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 30), (4, 7), (9, 5)], "id long, s long"
        )
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1)], "id long, cluster_id long"
        )
        out = {
            r.id: (r.cluster_id, r.score, r.kept)
            for r in select_canonical(df, clusters, "id", "s").collect()
        }
        assert out == {
            1: (1, 10, False),
            2: (1, 30, True),
            3: (1, 30, False),
            4: (4, 7, True),
            9: (9, 5, True),
        }
        assert sum(1 for _, _, k in out.values() if k) == 3  # one per cluster

    def test_select_canonical_preserves_string_ids(self, spark):
        # collection point ids are canonically string/uuid; the operator
        # must not force a numeric cast (ANSI would throw; non-ANSI would
        # null every unpaired id into one giant NULL cluster)
        from qdrant_datafusion_spark.operators.dedup import select_canonical

        df = spark.createDataFrame(
            [("a", 1), ("b", 9), ("c", 9), ("lone", 4)], "id string, s long"
        )
        clusters = spark.createDataFrame(
            [("a", "a"), ("b", "a"), ("c", "a")], "id string, cluster_id string"
        )
        out = {
            r.id: (r.cluster_id, r.kept)
            for r in select_canonical(df, clusters, "id", "s").collect()
        }
        # tie at 9 between b and c -> lexicographically smaller id b wins
        assert out == {
            "a": ("a", False),
            "b": ("a", True),
            "c": ("a", False),
            "lone": ("lone", True),
        }

    def test_embedding_near_dups_multiblock_matches_bruteforce(self, spark, emb):
        # small block_size forces a multi-block grid; hash blocking doesn't
        # order ids across blocks, so this catches any ordered-pair
        # assumption in the block-pair kernel
        import itertools

        data = {r.vec_id: np.array(r.embedding) for r in emb.limit(120).collect()}
        truth = set()
        for a, b in itertools.combinations(sorted(data), 2):
            va, vb = data[a], data[b]
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if c >= 0.3:
                truth.add((a, b))
        sub = emb.filter(emb.vec_id.isin(list(data)))
        got = {
            (r.id_a, r.id_b)
            for r in embedding_near_dups(
                sub, "embedding", "vec_id", 0.3, block_size=32
            ).collect()
        }
        assert got == truth

    def test_embedding_near_dups_lsh_buckets_subset_of_exact(self, emb):
        rng = random.Random(11)
        planes = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(3)]
        exact = {
            (r.id_a, r.id_b)
            for r in embedding_near_dups(emb, "embedding", "vec_id", 0.3).collect()
        }
        bucketed = {
            (r.id_a, r.id_b)
            for r in embedding_near_dups(
                emb, "embedding", "vec_id", 0.3, bucket_planes=planes
            ).collect()
        }
        assert bucketed <= exact
        assert len(bucketed) > 0

    def test_plane_count_sql_parity(self):
        """The gates' DuckDB oracles recompute p in SQL
        (entry_queries._EMB_LSH_P_SQL); the formula must agree with
        dedup.auto_plane_count for every corpus size — including the
        floor, the pool cap, and exact powers of two at the ceil
        boundary."""
        import duckdb

        from qdrant_datafusion_spark.entry_queries import EMB_LSH_PMAX
        from qdrant_datafusion_spark.operators.dedup import auto_plane_count

        con = duckdb.connect()
        for n in [1, 100, 500, 2000, 4096, 8192, 8193, 65536, 131072,
                  131073, 262144, 10_000_000]:
            sql_p = con.sql(
                f"SELECT least({EMB_LSH_PMAX}, greatest(4, CAST(ceil("
                f"log2(greatest(2.0, {n} / 512.0))) AS INT)))"
            ).fetchone()[0]
            py_p = min(EMB_LSH_PMAX, auto_plane_count(n))
            assert sql_p == py_p, (n, sql_p, py_p)

    def test_pool_slice_is_prefix_stable(self):
        """Raising p must only APPEND planes per table (pool layout
        [t*PMAX + j]) so truncating the PMAX-bit bucket string to p
        reproduces the p-plane buckets exactly — the invariant the
        substr() in the oracles depends on."""
        from qdrant_datafusion_spark.entry_queries import (
            EMB_LSH_PMAX,
            EMB_LSH_POOL,
            EMB_LSH_TABLES,
        )

        def slice_pool(p):
            return [
                EMB_LSH_POOL[t * EMB_LSH_PMAX + j]
                for t in range(EMB_LSH_TABLES)
                for j in range(p)
            ]

        p4, p6 = slice_pool(4), slice_pool(6)
        for t in range(EMB_LSH_TABLES):
            assert p6[t * 6 : t * 6 + 4] == p4[t * 4 : t * 4 + 4]

    def test_auto_bucket_planes_scales_with_corpus(self):
        from qdrant_datafusion_spark.operators.dedup import auto_bucket_planes

        # p tracks log2(n / target): constant occupancy target at any scale
        _, p_small = auto_bucket_planes(8_000, 64, target_bucket=512)
        _, p_10x = auto_bucket_planes(80_000, 64, target_bucket=512)
        _, p_100tb = auto_bucket_planes(50_000_000_000, 64, target_bucket=512)
        assert p_small == 4          # ceil(log2(15.625)) = 4
        assert p_10x == 8            # ceil(log2(156.25)) = 8
        assert p_100tb == 27
        # the floor keeps tiny corpora from degenerating to 1-2 planes
        _, p_floor = auto_bucket_planes(100, 64)
        assert p_floor == 4

        # deterministic, and at p=4/seed=200 bit-identical to the gate's
        # literal EMB_LSH_PLANES (same seeded generator)
        planes_a, _ = auto_bucket_planes(8_000, 64)
        planes_b, _ = auto_bucket_planes(8_000, 64)
        assert planes_a == planes_b
        from qdrant_datafusion_spark.entry_queries import EMB_LSH_PLANES

        assert planes_a == EMB_LSH_PLANES

    def test_auto_planes_drive_near_dups(self, emb):
        from qdrant_datafusion_spark.operators.dedup import auto_bucket_planes

        n = emb.count()
        planes, _p = auto_bucket_planes(n, 64, tables=16)
        exact = {
            (r.id_a, r.id_b)
            for r in embedding_near_dups(emb, "embedding", "vec_id", 0.3).collect()
        }
        got = {
            (r.id_a, r.id_b)
            for r in embedding_near_dups(
                emb, "embedding", "vec_id", 0.3, bucket_planes=planes, tables=16
            ).collect()
        }
        assert got <= exact and len(got) >= 0.9 * len(exact)


def _ref_minhash_buckets(doc_id, text, k, num_hashes, bands):
    """The documented MinHash banding of one document, computed with
    ``hashlib`` alone: (id, sorted fingerprints, bucket) per band.

    Normalise (trim spaces, lower, collapse runs of the ASCII whitespace
    class Java's ``\\s`` matches to one space), take the distinct k-word
    shingles, md5 each; ``h1`` = hex 1-8, ``h2`` = 2·(hex 9-16) + 1,
    ``hs`` = hex 1-15; hash i of the signature is the min over shingles
    of ``(h1 + i·h2) mod 4294967291``; band b's bucket is
    ``md5('b|h..|h..')`` over its slice of the signature."""
    if text is None:
        return []
    norm = re.sub(r"[ \t\n\r\f\x0b]+", " ", text.strip(" ").lower())
    toks = [t for t in norm.split(" ") if t]
    digests = [
        hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    if not digests:
        return []
    hh = [(int(d[:8], 16), int(d[8:16], 16) * 2 + 1) for d in digests]
    fp = tuple(sorted({int(d[:15], 16) for d in digests}))
    sig = [min((h1 + i * h2) % 4294967291 for h1, h2 in hh) for i in range(num_hashes)]
    r = num_hashes // bands
    return [
        (doc_id, fp, hashlib.md5("|".join(map(str, [b, *sig[b * r : (b + 1) * r]])).encode()).hexdigest())
        for b in range(bands)
    ]


class TestMinhashBucketsReference:
    """``minhash_buckets`` is bit-exact with a pure-Python reference of
    its documented algorithm.  Persisted signature stores are probed with
    these bucket strings, so any change to them orphans every store
    written before it."""

    ROWS = [
        (1, None),
        (2, ""),
        (3, " \t\n  \r\n "),
        (4, "two words"),
        (5, "the cat sat on the mat the cat sat on the mat the cat sat"),
        (6, "  Mixed\tCASE\n\nwords\x0b\fand\r\n runs   of  ASCII space "),
        # non-ASCII spaces are not in Java's \s class: they stay inside
        # their tokens, alone or in runs
        (7, "non\u00a0breaking\u2003\u2003space\u3000\u3000\u3000runs stay inside"),
        (8, "\u00a0\u2002 leading unicode spaces then words follow here"),
        (9, "naïve café déjà vu über straße naïve café déjà"),
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]

    @pytest.mark.parametrize("k,num_hashes,bands", [(3, 32, 16), (2, 12, 4)])
    def test_bit_exact_with_hashlib_reference(self, spark, docs, k, num_hashes, bands):
        from qdrant_datafusion_spark.operators.dedup import minhash_buckets

        def rows(df):
            got = sorted(
                (r._id, tuple(sorted(r._fp)), r.bucket)
                for r in minhash_buckets(df, "text", "doc_id", k, num_hashes, bands).collect()
            )
            want = sorted(
                row
                for d in df.select("doc_id", "text").collect()
                for row in _ref_minhash_buckets(d.doc_id, d.text, k, num_hashes, bands)
            )
            return got, want

        got, want = rows(spark.createDataFrame(self.ROWS, "doc_id long, text string"))
        assert got == want
        # the edge rows reach the cases they name: null, blank and
        # whitespace-only text get no signature, nor does text shorter
        # than k words
        ids = {row[0] for row in got}
        assert ids == {5, 6, 7, 8, 9, 10, 11} | ({4} if k <= 2 else set())
        got, want = rows(docs)
        assert got == want and len(got) > 1000


class TestAnn:
    def test_ivf_recall(self, emb, rng_query):
        rng = random.Random(3)
        cents = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(8)]
        assigned = assign_ivf_cells(emb, "embedding", cents)
        exact = [r.vec_id for r in knn_bruteforce(emb, "embedding", rng_query, 10, id_col="vec_id").collect()]
        approx = [
            r.vec_id
            for r in ivf_topk(
                assigned, "embedding", rng_query, cents, 10, nprobe=4, id_col="vec_id"
            ).collect()
        ]
        # probing half the cells should recover most of the exact top-10
        assert len(set(exact) & set(approx)) >= 5

    def test_lsh_bucket_topk_returns_k(self, emb, rng_query):
        rng = random.Random(5)
        planes = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(3)]
        out = lsh_bucket_topk(
            emb, "embedding", rng_query, planes, 5, id_col="vec_id"
        ).collect()
        assert len(out) == 5

    def test_knn_brp_mllib_matches_exact_euclid(self, emb, rng_query):
        """The stock MLlib BucketedRandomProjectionLSH ANN tier: at the
        gate's bucket length the seeded candidate set must contain the
        exact euclid top-k, and the emitted house-kernel distances must
        equal the brute-force kernel's exactly."""
        from qdrant_datafusion_spark.operators.ann import knn_brp_mllib

        exact = {
            (r.vec_id, round(-r.score, 6))
            for r in knn_bruteforce(
                emb, "embedding", rng_query, 10, metric="euclid",
                id_col="vec_id",
            ).collect()
        }
        got = {
            (r.vec_id, round(r.distance, 6))
            for r in knn_brp_mllib(
                emb, "embedding", rng_query, 10, id_col="vec_id",
                num_hash_tables=10, bucket_length=2.0, seed=7,
            ).collect()
        }
        assert got == exact

    def test_planted_cluster_fixture_separation(self, emb):
        """ann.planted_cluster_embeddings must plant the wide
        inter/intra-cluster euclid separation the BRP join gate relies
        on: every same-cluster (id//4) pair well inside radius 0.05,
        every cross-cluster pair far outside it."""
        import numpy as np

        from qdrant_datafusion_spark.operators.ann import (
            planted_cluster_embeddings,
        )

        c = planted_cluster_embeddings(emb, "embedding", "vec_id")
        rows = sorted(
            ((r.vec_id, np.asarray(r.cemb)) for r in c.select("vec_id", "cemb").collect()),
            key=lambda t: t[0],
        )
        ids = np.array([t[0] for t in rows])
        M = np.stack([t[1] for t in rows])
        # all-pairs distances (500 rows at the test SF — fine in-memory)
        D = np.sqrt(((M[:, None, :] - M[None, :, :]) ** 2).sum(-1))
        same = (ids[:, None] // 4) == (ids[None, :] // 4)
        off = ~np.eye(len(ids), dtype=bool)
        assert D[same & off].max() < 0.02   # intra: inside the 0.05 ball
        assert D[~same].min() > 10.0        # inter: nowhere near it

    def test_embedding_brp_join_matches_exact_pairs(self, emb):
        """The stock BRP approxSimilarityJoin tier on the planted-cluster
        fixture must emit EXACTLY the brute-force pair set within the
        radius, with house-kernel distances matching an independent
        numpy reference at the gate's rounding."""
        import numpy as np

        from qdrant_datafusion_spark.operators.ann import (
            planted_cluster_embeddings,
        )
        from qdrant_datafusion_spark.operators.dedup import (
            embedding_near_dups_brp,
        )

        c = planted_cluster_embeddings(emb, "embedding", "vec_id")
        vecs = {
            r.vec_id: np.asarray(r.cemb)
            for r in c.select("vec_id", "cemb").collect()
        }
        ids = sorted(vecs)
        exact = {
            (a, b, round(float(np.sqrt(((vecs[a] - vecs[b]) ** 2).sum())), 6))
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if np.sqrt(((vecs[a] - vecs[b]) ** 2).sum()) <= 0.05
        }
        got = {
            (r.id_a, r.id_b, round(r.dist, 6))
            for r in embedding_near_dups_brp(
                c, "cemb", "vec_id", radius=0.05,
                num_hash_tables=4, bucket_length=0.1, seed=7,
            ).collect()
        }
        assert got == exact
        assert len(got) == len(vecs) // 4 * 6  # every planted cluster found


class TestFusionOperator:
    def test_rrf_prefers_doubly_ranked(self, spark):
        from qdrant_datafusion_spark.functions.fusion import rrf_fuse

        b1 = spark.createDataFrame(
            [("a", 0.9), ("b", 0.8), ("c", 0.7)], "id string, score double"
        )
        b2 = spark.createDataFrame(
            [("b", 0.95), ("d", 0.5)], "id string, score double"
        )
        out = rrf_fuse([b1, b2]).collect()
        assert out[0].id == "b"  # rank 2 + rank 1 beats any single-branch id
        got = {r.id: r.fused_score for r in out}
        assert got["b"] == pytest.approx(1 / 62 + 1 / 61)
        assert got["a"] == pytest.approx(1 / 61)


class TestSelfKnn:
    def test_self_knn_matches_bruteforce(self, spark, emb):
        import itertools

        from qdrant_datafusion_spark.operators import self_knn_join

        data = {r.vec_id: np.array(r.embedding) for r in emb.limit(100).collect()}
        truth = {}
        for a in data:
            scored = []
            for b in data:
                if a == b:
                    continue
                va, vb = data[a], data[b]
                c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
                scored.append((-c, b))
            truth[a] = [b for _, b in sorted(scored)[:3]]
        sub = emb.filter(emb.vec_id.isin(list(data)))
        out = self_knn_join(sub, "embedding", "vec_id", k=3, block_size=32).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.id, r.rank)):
            got.setdefault(r.id, []).append(r.nbr_id)
        assert got == truth

    def test_block_smaller_than_keep_list(self, spark, emb):
        # r13 vectorized-emitter edge case: a block with fewer rows than
        # the keep list (k + 4) must clamp its per-block top-k to the
        # block width and still return the exact neighbors
        from qdrant_datafusion_spark.operators import self_knn_join

        data = {r.vec_id: np.array(r.embedding) for r in emb.limit(5).collect()}
        truth = {}
        for a in data:
            scored = []
            for b in data:
                if a == b:
                    continue
                va, vb = data[a], data[b]
                c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
                scored.append((-c, b))
            truth[a] = [b for _, b in sorted(scored)[:3]]
        sub = emb.filter(emb.vec_id.isin(list(data)))
        out = self_knn_join(sub, "embedding", "vec_id", k=3, block_size=64).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.id, r.rank)):
            got.setdefault(r.id, []).append(r.nbr_id)
        assert got == truth


class TestHardNegatives:
    def test_matches_bruteforce_band(self, spark, emb):
        from qdrant_datafusion_spark.operators.ann import hard_negatives

        data = {r.vec_id: np.array(r.embedding) for r in emb.limit(80).collect()}
        lo, hi, k, over = 0.1, 0.9, 3, 20
        truth = {}
        for a in data:
            scored = []
            for b in data:
                if a == b:
                    continue
                va, vb = data[a], data[b]
                c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
                scored.append((-c, b))
            top = sorted(scored)[:over]
            band = [(c, b) for c, b in top if lo <= -c < hi][:k]
            if band:
                truth[a] = [b for _, b in band]
        sub = emb.filter(emb.vec_id.isin(list(data)))
        out = hard_negatives(
            sub, "embedding", "vec_id", k=k, lo=lo, hi=hi,
            overfetch_rank=over, block_size=32,
        ).collect()
        got = {}
        for r in sorted(out, key=lambda r: (r.id, r.neg_rank)):
            got.setdefault(r.id, []).append(r.nbr_id)
        assert got == truth
        # every emitted score sits inside the band
        assert all(lo <= r.score < hi for r in out)

    def test_bad_args(self, spark, emb):
        from qdrant_datafusion_spark.operators.ann import hard_negatives

        with pytest.raises(ValueError):
            hard_negatives(emb, "embedding", "vec_id", lo=0.9, hi=0.5)
        with pytest.raises(ValueError):
            hard_negatives(
                emb, "embedding", "vec_id", k=10, overfetch_rank=5
            )


class TestIvfTraining:
    def test_kmeans_reduces_inertia_and_improves_recall(self, spark, emb, rng_query):
        from qdrant_datafusion_spark.operators.ann import (
            assign_ivf_cells,
            ivf_topk,
            train_ivf_centroids,
        )

        sub = emb.select(F.col("vec_id").alias("id"), "embedding")

        def inertia(cents):
            import numpy as np

            rows = sub.collect()
            c = np.asarray(cents)
            total = 0.0
            for r in rows:
                v = np.asarray(r.embedding, dtype=np.float64)
                total += float(((c - v) ** 2).sum(axis=1).min())
            return total

        cents1 = train_ivf_centroids(sub, "embedding", k=8, iterations=1)
        cents5 = train_ivf_centroids(sub, "embedding", k=8, iterations=5)
        assert len(cents5) == 8 and len(cents5[0]) == 64
        assert inertia(cents5) <= inertia(cents1) + 1e-6  # Lloyd's monotonicity
        # deterministic: same inputs -> identical centroids
        again = train_ivf_centroids(sub, "embedding", k=8, iterations=5)
        assert again == cents5
        # trained centroids must give usable recall at nprobe=4
        assigned = assign_ivf_cells(sub, "embedding", cents5)
        from qdrant_datafusion_spark.operators import knn_bruteforce

        exact = [r.id for r in knn_bruteforce(sub, "embedding", rng_query, 10).collect()]
        approx = [
            r.id
            for r in ivf_topk(assigned, "embedding", rng_query, cents5, 10, nprobe=4).collect()
        ]
        assert len(set(exact) & set(approx)) >= 5


class TestLshSkewGuard:
    """A hot bucket (boilerplate corpus: thousands of identical docs in one
    band bucket) must not go quadratic — the cap drops the bucket, keeps
    everything else, and the audit surface reports exactly what was
    dropped."""

    def _skewed(self, spark):
        boiler = [
            (i, "the quick brown fox jumps over the lazy dog again and again")
            for i in range(5000)
        ]
        near = [
            (10001, "alpha beta gamma delta epsilon zeta eta theta"),
            (10002, "alpha beta gamma delta epsilon zeta eta iota"),
        ]
        return spark.createDataFrame(boiler + near, "id long, text string")

    def test_minhash_cap_blocks_boilerplate_keeps_real_pairs(self, spark):
        from qdrant_datafusion_spark.operators.dedup import minhash_hot_buckets

        df = self._skewed(spark)
        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_dups(
                df, "text", "id", threshold=0.5, max_bucket_size=100
            ).collect()
        }
        assert (10001, 10002) in pairs  # genuine near-dups still found
        # no pair touches the 5000-copy boilerplate set: its buckets were
        # capped, so the candidate count stayed linear instead of 5000^2
        assert all(a > 10000 and b > 10000 for a, b in pairs)
        hot = minhash_hot_buckets(df, "text", "id", max_bucket_size=100).collect()
        assert hot and all(r.n_members == 5000 for r in hot)

    def test_simhash_cap_blocks_boilerplate(self, spark):
        from qdrant_datafusion_spark.operators.dedup import simhash_hot_buckets

        df = self._skewed(spark)
        pairs = simhash_dups(
            df, "text", "id", max_hamming=3, max_bucket_size=100
        ).collect()
        assert all(r.id_a > 10000 and r.id_b > 10000 for r in pairs)
        hot = simhash_hot_buckets(df, "text", "id", max_bucket_size=100).collect()
        assert hot and max(r.n_members for r in hot) == 5000

    def test_cap_disabled_matches_capped_on_unskewed_data(self, docs):
        capped = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", threshold=0.3, max_bucket_size=1000
            ).collect()
        }
        uncapped = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_dups(
                docs, "text", "doc_id", threshold=0.3, max_bucket_size=None
            ).collect()
        }
        assert capped == uncapped


class TestLshScaleDefaults:
    """The multi-table LSH paths are the gated 100 TB defaults; the exact
    grids are the verify tier.  LSH output must be an exact-scored SUBSET
    of the exact output with high recall, and the kNN-graph shapes must
    agree per id."""

    def _emb(self, spark, sf_dir):
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("embedding").isNotNull())
        )

    def _planes(self, n):
        import random

        def vec(seed):
            rng = random.Random(seed)
            return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(64)]

        return [vec(200 + i) for i in range(n)]

    def test_embedding_lsh_subset_with_high_recall(self, spark, sf_dir):
        from qdrant_datafusion_spark.operators.dedup import embedding_near_dups

        emb = self._emb(spark, sf_dir)
        exact = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dups(
                emb, "embedding", "vec_id", threshold=0.35, block_size=64
            ).collect()
        }
        lsh = {
            (r.id_a, r.id_b): r.cosine
            for r in embedding_near_dups(
                emb,
                "embedding",
                "vec_id",
                threshold=0.35,
                bucket_planes=self._planes(64),
                tables=16,
            ).collect()
        }
        assert set(lsh) <= set(exact)  # never a false positive
        assert len(lsh) / max(len(exact), 1) >= 0.8  # recall holds
        for pair, cos in lsh.items():  # scores bit-identical to exact path
            assert cos == exact[pair]

    def test_knn_graph_lsh_ranks_are_contiguous_per_id(self, spark, sf_dir):
        from qdrant_datafusion_spark.operators.ann import self_knn_join_lsh

        emb = self._emb(spark, sf_dir)
        out = self_knn_join_lsh(
            emb, "embedding", "vec_id", planes=self._planes(64), k=3, tables=16
        ).collect()
        by_id: dict = {}
        for r in out:
            by_id.setdefault(r.id, []).append((r.rank, r.score, r.nbr_id))
        assert by_id  # nonempty graph
        for rows in by_id.values():
            rows.sort()
            assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
            scores = [r[1] for r in rows]
            assert scores == sorted(scores, reverse=True)


class TestSaltedJoin:
    def _skewed(self, spark):
        from pyspark.sql import functions as F

        # 900 rows on one hot key, 100 spread over 10 keys
        large = spark.range(0, 1000).select(
            F.col("id").alias("row_id"),
            F.when(F.col("id") < 900, F.lit(0))
            .otherwise(F.pmod("id", 10))
            .cast("long")
            .alias("k"),
        )
        small = spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("v")
        )
        return large, small

    def test_inner_equals_plain_join(self, spark):
        from qdrant_datafusion_spark.operators.joins import salted_join

        large, small = self._skewed(spark)
        got = {tuple(r) for r in salted_join(large, small, "k", "row_id").collect()}
        want = {tuple(r) for r in large.join(small, "k").collect()}
        assert got == want and len(want) == 1000

    def test_left_keeps_unmatched(self, spark):
        from pyspark.sql import functions as F

        from qdrant_datafusion_spark.operators.joins import salted_join

        large, small = self._skewed(spark)
        small_missing_hot = small.filter(F.col("k") != 0)
        got = {
            tuple(r)
            for r in salted_join(
                large, small_missing_hot, "k", "row_id", how="left"
            ).collect()
        }
        want = {tuple(r) for r in large.join(small_missing_hot, "k", "left").collect()}
        assert got == want

    def test_salt_spreads_hot_key(self, spark):
        from pyspark.sql import functions as F

        large, _ = self._skewed(spark)
        n_salts = 8
        salts = (
            large.filter(F.col("k") == 0)
            .select(F.pmod(F.xxhash64("row_id"), F.lit(n_salts)).alias("s"))
            .distinct()
            .count()
        )
        assert salts == n_salts  # 900 rows cover all 8 salt partitions

    def test_join_key_includes_salt(self, spark):
        from qdrant_datafusion_spark.operators.joins import salted_join
        from qdrant_datafusion_spark.plans.inspect import explain_str

        large, small = self._skewed(spark)
        plan = explain_str(salted_join(large, small, "k", "row_id", num_salts=4))
        assert "_salt" in plan  # the physical join key carries the salt

    def test_rejects_bad_how(self, spark):
        import pytest as _pytest

        from qdrant_datafusion_spark.operators.joins import salted_join

        large, small = self._skewed(spark)
        with _pytest.raises(ValueError):
            salted_join(large, small, "k", "row_id", how="full")


class TestEmptyInput:
    """Empty partitions are routine at cluster scale (filters that match
    nothing, skewed splits); a kernel that np.stack's an empty Arrow batch
    or indexes a missing example id dies there.  Sweep the kernel-bearing
    driver queries over fully-empty tables: every one must plan + execute
    to an empty result, except the two documented example-resolution
    guards, which must raise their clear ValueError (never a bare
    KeyError/IndexError)."""

    KERNEL_QUERIES = [
        # pandas-UDF / GEMM paths — the np.stack-on-empty class
        "dedup_embedding", "dedup_embedding_lsh", "ann_knn_graph",
        "ann_knn_graph_blocked", "lsh_bucket_topk", "group_centroids",
        "embed_jl_project", "ann_pq_topk", "ann_ivfpq_topk",
        # signature kernels + CC loop + policy window
        "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_clusters",
        "dedup_keep_best", "dedup_ngram_jaccard",
        # prefix sums / stats broadcasts / sessionization
        "pipeline_pack_sequences", "pipeline_token_budget",
        "text_decontaminate_bloom", "match_text_bm25", "q_events_sessions",
        "q_event_percentiles", "v_sparse_batch_inverted",
        "q_asof_purchase_click", "q_salted_join",
        # round-5 additions: span dedup, SemDeDup GEMM, shuffle prefix scan
        "dedup_substring", "dedup_semantic", "pipeline_global_shuffle",
        # round-5 additions: LM build/apply, funnel chain, integer
        # pagerank, MMR greedy argmax, per-source entropy
        "text_perplexity", "q_events_funnel", "graph_pagerank",
        "v_search_mmr", "text_source_profile", "pipeline_mix_temperature",
        "q_value_histogram", "graph_trustrank", "q_events_cohorts",
        # round-6 additions: BPE merge loop, image/audio fingerprint
        # dedup, sketch property gates, and the six streaming gates
        # (empty source -> zero-row micro-batch -> empty sink)
        "text_bpe_vocab", "multimodal_phash_dups", "multimodal_audio_dups",
        "multimodal_video_dups",
        "q_approx_percentile", "q_approx_distinct", "v_random_sample",
        "streaming_hourly_counts", "streaming_dedup_survivors",
        "streaming_funnel_conversion", "streaming_topk_values",
        "streaming_sessions", "streaming_collection_source",
    ]
    GUARDED = {
        "text_decontaminate_semantic": "benchmark has no embeddings",
        "v_recommend_topk": "example ids not in collection",
    }

    @pytest.fixture(scope="class")
    def empty_dir(self, spark, sf_dir, tmp_path_factory):
        import os

        dst = str(tmp_path_factory.mktemp("sf_empty"))
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            (
                spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
                .limit(0)
                .write.mode("overwrite")
                .parquet(os.path.join(dst, f"{t}.parquet"))
            )
        return dst

    def test_kernel_queries_survive_empty_tables(self, spark, empty_dir):
        from qdrant_datafusion_spark.entry_queries import QUERIES

        failures = []
        for name in self.KERNEL_QUERIES:
            try:
                # collect(), NOT count(): count() lets Catalyst prune the
                # projection, so a crash inside an output expression (ANSI
                # division by zero, etc.) would go unexercised — found
                # live with q_events_funnel's conversion ratios
                QUERIES[name](spark, empty_dir).collect()
            except Exception as ex:  # noqa: BLE001 - collecting evidence
                failures.append(f"{name}: {type(ex).__name__}: {ex}")
        assert not failures, "\n".join(failures)

    def test_example_resolution_guards_raise_clearly(self, spark, empty_dir):
        from qdrant_datafusion_spark.entry_queries import QUERIES

        for name, msg in self.GUARDED.items():
            with pytest.raises(ValueError, match=msg):
                QUERIES[name](spark, empty_dir).count()

    @pytest.fixture(scope="class")
    def nullful_dir(self, spark, sf_dir, tmp_path_factory):
        import os

        dst = str(tmp_path_factory.mktemp("sf_nulls"))
        nullers = {
            "documents": {"text": "doc_id % 2 = 0", "lang": "doc_id % 3 = 0"},
            "embeddings": {"embedding": "vec_id % 2 = 0"},
            "events": {"props": "event_id % 2 = 0", "value": "event_id % 3 = 0"},
        }
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            for col, cond in nullers.get(t, {}).items():
                df = df.withColumn(
                    col, F.when(F.expr(cond), F.lit(None)).otherwise(F.col(col))
                )
            df.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))
        return dst

    def test_kernel_queries_survive_null_heavy_tables(self, spark, nullful_dir):
        """Real corpora carry NULL text / vectors / payloads; a kernel that
        lets a NULL reach np.asarray or int() kills the whole task.  Found
        live: pack_sequences died on NaN token counts, v_recommend on a
        NULL example vector."""
        from qdrant_datafusion_spark.entry_queries import QUERIES

        failures = []
        for name in self.KERNEL_QUERIES:
            try:
                QUERIES[name](spark, nullful_dir).collect()  # see above
            except Exception as ex:  # noqa: BLE001 - collecting evidence
                failures.append(f"{name}: {type(ex).__name__}: {ex}")
        assert not failures, "\n".join(failures)

    def test_null_example_vector_raises_clearly(self, spark, nullful_dir):
        # the NULL fixture nulls even vec_ids, which includes recommend
        # example ids -> the guard must name them, not die in float(None)
        from qdrant_datafusion_spark.entry_queries import QUERIES

        with pytest.raises(ValueError, match="example ids not in collection"):
            QUERIES["v_recommend_topk"](spark, nullful_dir).count()


class TestSubstringDupSpans:
    """substring_dup_spans vs a brute-force per-position reference."""

    @staticmethod
    def _reference(rows, k):
        from collections import Counter

        toks = {i: t.lower().split() for i, t in rows}
        occ = Counter()
        for i, ts in toks.items():
            for p in range(len(ts) - k + 1):
                occ[" ".join(ts[p : p + k])] += 1
        expect = {}
        for i, ts in toks.items():
            starts = [
                p
                for p in range(len(ts) - k + 1)
                if occ[" ".join(ts[p : p + k])] > 1
            ]
            if not starts:
                continue
            covered = set()
            for p in starts:
                covered.update(range(p, p + k))
            expect[i] = (len(ts), len(starts), len(covered))
        return expect

    def test_matches_bruteforce_interval_union(self, spark):
        from qdrant_datafusion_spark.operators.dedup import substring_dup_spans

        rows = [
            (1, "a b c d e f g h"),          # shares 'a b c d e' with 2
            (2, "a b c d e x y z"),
            (3, "p q r s t u v w"),          # clean
            (4, "m m m m m m m m m m"),      # within-doc repeats only
            (5, "x y z a b c d e f g"),      # shares with 1 and 2, offset
            (6, "one two three four"),       # shorter than k=5 window? no: 4 < 5
        ]
        k = 5
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_dup_starts, r.covered_tokens)
            for r in substring_dup_spans(df, "text", "doc_id", k=k).collect()
        }
        assert got == self._reference(rows, k)

    def test_overlapping_spans_merge_not_doublecount(self, spark):
        from qdrant_datafusion_spark.operators.dedup import substring_dup_spans

        # doc 1 and 2 share a 7-token run -> 3 flagged starts each (k=5),
        # covering exactly 7 tokens, not 15
        rows = [
            (1, "u1 u2 c1 c2 c3 c4 c5 c6 c7 t1"),
            (2, "v1 c1 c2 c3 c4 c5 c6 c7 w1 w2"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_dup_starts, r.covered_tokens)
            for r in substring_dup_spans(df, "text", "doc_id", k=5).collect()
        }
        assert got == {1: (3, 7), 2: (3, 7)}

    def test_clean_corpus_empty_output(self, spark):
        from qdrant_datafusion_spark.operators.dedup import substring_dup_spans

        rows = [(1, "a b c d e f"), (2, "g h i j k l")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert substring_dup_spans(df, "text", "doc_id", k=5).count() == 0


class TestSemanticDedup:
    CENTROIDS = [[1.0, 0.0], [0.0, 1.0]]

    def test_matches_bruteforce(self, spark):
        from qdrant_datafusion_spark.operators.dedup import semantic_dedup

        rows = [
            (1, [1.0, 0.05]),   # cluster 0
            (2, [1.0, 0.06]),   # near-dup of 1, same cluster -> dropped
            (3, [0.9, 0.4]),    # cluster 0 but outside the 0.99 ball
            (4, [0.05, 1.0]),   # cluster 1
            (5, [0.04, 1.0]),   # near-dup of 4 -> dropped
            (6, [0.05, 1.0]),   # near-dup of 4 AND 5 -> dropped, 2 lower dups
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.vec_id: (r.cluster, r.n_lower_dups, r.dropped)
            for r in semantic_dedup(
                df, "embedding", "vec_id", self.CENTROIDS, threshold=0.99
            ).collect()
        }
        # numpy reference
        M = np.array([r[1] for r in rows], dtype=np.float64)
        C = np.array(self.CENTROIDS)
        cl = np.argmax(M @ C.T, axis=1)
        cos = (M @ M.T) / np.outer(
            np.linalg.norm(M, axis=1), np.linalg.norm(M, axis=1)
        )
        for i, (vid, _) in enumerate(rows):
            lower = [
                j
                for j in range(i)
                if cl[j] == cl[i] and round(cos[i, j], 6) >= 0.99
            ]
            assert out[vid] == (cl[i], len(lower), int(bool(lower))), vid

    def test_cross_cluster_dup_not_seen(self, spark):
        from qdrant_datafusion_spark.operators.dedup import semantic_dedup

        # identical vectors forced into different clusters never pair —
        # the documented SemDeDup blind spot (the paper accepts it; the
        # gate must reproduce it, not silently 'fix' it)
        rows = [(1, [1.0, 1.0]), (2, [1.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = semantic_dedup(
            df, "embedding", "vec_id", self.CENTROIDS, threshold=0.9
        ).collect()
        # tie on centroid dot -> both land in cluster 0 (first max), so
        # they DO pair here; verify the tie-break side instead
        assert {r.cluster for r in out} == {0}
        assert {r.vec_id: r.dropped for r in out} == {1: 0, 2: 1}

    def test_max_cluster_size_cap_drops_hot_cluster_candidates(self, spark):
        from qdrant_datafusion_spark.operators.dedup import semantic_dedup

        rows = [(i, [1.0, 0.001 * i]) for i in range(20)] + [
            (100, [0.0, 1.0]),
            (101, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.vec_id: r.dropped
            for r in semantic_dedup(
                df, "embedding", "vec_id", self.CENTROIDS,
                threshold=0.99, max_cluster_size=5,
            ).collect()
        }
        # hot cluster 0 (20 members > cap) contributes no pairs; the small
        # cluster 1 still dedups
        assert all(out[i] == 0 for i in range(20))
        assert out[100] == 0 and out[101] == 1


class TestSemanticDedupLargeK:
    def test_large_k_gemm_path_matches_native(self, spark):
        """The >32-centroid Arrow GEMM argmax must agree with the native
        sequential-dot argmax: pad the centroid list with never-winning
        dummies (strongly negative dots for nonnegative vectors) so both
        paths face the same effective clustering."""
        from qdrant_datafusion_spark.operators.dedup import semantic_dedup

        rng = random.Random(11)
        rows = [
            (i, [round(rng.uniform(0.0, 1.0), 4) for _ in range(8)])
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        real = [[1.0 if j == d else 0.1 for j in range(8)] for d in range(4)]
        dummies = [[-1000.0] * 8 for _ in range(33)]
        a = {
            (r.vec_id, r.cluster, r.n_lower_dups, r.dropped)
            for r in semantic_dedup(
                df, "embedding", "vec_id", real, threshold=0.98
            ).collect()
        }
        b = {
            (r.vec_id, r.cluster, r.n_lower_dups, r.dropped)
            for r in semantic_dedup(
                df, "embedding", "vec_id", real + dummies, threshold=0.98
            ).collect()
        }
        assert a == b


class TestPageRank:
    """operators.graph.pagerank — integer fixed-point PageRank."""

    EDGES = [(1, 2), (2, 3), (3, 1), (1, 3)]

    @staticmethod
    def _reference(edges, iters, units=10**9, d=85):
        def hu(a, b):
            return (2 * a + b) // (2 * b)

        nodes = sorted({n for e in edges for n in e})
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        N = len(nodes)
        r = {n: hu(units, N) for n in nodes}
        for _ in range(iters):
            s_in = {n: 0 for n in nodes}
            for a, b in edges:
                s_in[b] += hu(r[a], deg[a])
            r = {
                n: hu((100 - d) * units, 100 * N) + hu(d * s_in[n], 100)
                for n in nodes
            }
        return r

    def _run(self, spark, edges, **kw):
        from qdrant_datafusion_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r.node: r.rank_units for r in pagerank(df, **kw).collect()}

    def test_matches_integer_reference(self, spark):
        for iters in (0, 1, 3):
            got = self._run(spark, self.EDGES, iters=iters, materialize=False)
            assert got == self._reference(self.EDGES, iters)

    def test_mass_conserved_no_dangling(self, spark):
        got = self._run(spark, self.EDGES, iters=3)
        # every node has out-edges: total mass stays ~1 (quantization only)
        assert abs(sum(got.values()) - 10**9) <= len(got)

    def test_dangling_node_documented_leak(self, spark):
        # node 3 has no out-edges: its mass leaves circulation
        edges = [(1, 2), (2, 3), (1, 3)]
        got = self._run(spark, edges, iters=2, materialize=False)
        assert got == self._reference(edges, 2)
        assert sum(got.values()) < 10**9

    def test_layout_and_materialize_independent(self, spark):
        from qdrant_datafusion_spark.operators.graph import pagerank

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        a = {r.node: r.rank_units for r in pagerank(df, iters=3).collect()}
        b = {
            r.node: r.rank_units
            for r in pagerank(
                df.repartition(5), iters=3, materialize=False
            ).collect()
        }
        assert a == b

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            self._run(spark, self.EDGES, iters=-1)
        with pytest.raises(ValueError):
            self._run(spark, self.EDGES, damping_pct=101)


class TestMmrSelect:
    """operators.ann.mmr_select — integer-argmax diverse top-k."""

    # query points along +x; a/b near-identical high-relevance pair,
    # c orthogonal-ish, d negative
    QUERY = [1.0, 0.0, 0.0, 0.0]
    VECS = [
        (0, [1.0, 0.1, 0.0, 0.0]),   # a: most relevant
        (1, [1.0, 0.11, 0.0, 0.0]),  # b: near-duplicate of a
        (2, [0.2, 1.0, 0.0, 0.0]),   # c: diverse, mildly relevant
        (3, [-1.0, 0.0, 0.0, 0.0]),  # d: anti-relevant
    ]

    def _run(self, spark, k=3, lambda_pct=70, **kw):
        from qdrant_datafusion_spark.operators.ann import mmr_select

        df = spark.createDataFrame(
            self.VECS, "vec_id long, embedding array<double>"
        )
        return mmr_select(
            df, "embedding", "vec_id", self.QUERY, k=k,
            lambda_pct=lambda_pct, **kw
        )

    @classmethod
    def _reference(cls, k, lp, units=10**6):
        import math

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return dot / (na * nb)

        def u(x):
            # python round is half-even; mirror HALF-AWAY like both engines
            return int(math.floor(abs(x * units) + 0.5)) * (1 if x >= 0 else -1)

        cand = {i: v for i, v in cls.VECS}
        rel = {i: u(cos(v, cls.QUERY)) for i, v in cand.items()}
        picked, out = [], []
        for step in range(k):
            best = None
            for i, v in cand.items():
                if i in (p for p, _ in picked):
                    continue
                if picked:
                    ms = max(u(cos(v, pv)) for _, pv in picked)
                    m = lp * rel[i] - (100 - lp) * ms
                else:
                    m = lp * rel[i]
                if best is None or m > best[1] or (m == best[1] and i < best[0]):
                    best = (i, m)
            picked.append((best[0], cand[best[0]]))
            out.append((step + 1, best[0], best[1]))
        return out

    def test_matches_python_reference(self, spark):
        assert self._run(spark, k=3) == self._reference(3, 70)

    def test_diversity_beats_redundancy(self, spark):
        # diversity-heavy λ: pick 1 = most relevant (a); the near-dup b
        # (cos≈0.99997 to a) must NOT appear in the top 3 at all
        got = [vid for _, vid, _ in self._run(spark, k=3, lambda_pct=30)]
        assert got[0] == 0
        assert 1 not in got
        assert got == self._reference_ids(3, 30)

    @classmethod
    def _reference_ids(cls, k, lp):
        return [vid for _, vid, _ in cls._reference(k, lp)]

    def test_lambda_100_is_pure_topk(self, spark):
        got = [vid for _, vid, _ in self._run(spark, k=3, lambda_pct=100)]
        assert got == [0, 1, 2]  # plain relevance order, dup and all

    def test_early_stop_and_validation(self, spark):
        assert len(self._run(spark, k=99)) == 4
        with pytest.raises(ValueError):
            self._run(spark, k=0)
        with pytest.raises(ValueError):
            self._run(spark, lambda_pct=101)

    def test_k_depth_guard(self, spark):
        # k > 1000 = k sequential driver jobs; refuse with a pointer to
        # prefetch-then-MMR instead of silently launching a 10^5-job loop
        with pytest.raises(ValueError, match="prefetch"):
            self._run(spark, k=1001)


class TestTrustRank:
    """pagerank(seeds=...) — personalized teleport (TrustRank)."""

    EDGES = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]

    @staticmethod
    def _reference(edges, iters, seeds, units=10**9, d=85):
        def hu(a, b):
            return (2 * a + b) // (2 * b)

        nodes = sorted({n for e in edges for n in e})
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        ns = len(seeds)
        r = {n: (hu(units, ns) if n in seeds else 0) for n in nodes}
        for _ in range(iters):
            s_in = {n: 0 for n in nodes}
            for a, b in edges:
                if deg.get(a):
                    s_in[b] += hu(r[a], deg[a])
            r = {
                n: (hu((100 - d) * units, 100 * ns) if n in seeds else 0)
                + hu(d * s_in[n], 100)
                for n in nodes
            }
        return r

    def test_matches_integer_reference(self, spark):
        from qdrant_datafusion_spark.operators.graph import pagerank

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        for seeds in ([1], [1, 4]):
            got = {
                r.node: r.rank_units
                for r in pagerank(
                    df, iters=3, seeds=seeds, materialize=False
                ).collect()
            }
            assert got == self._reference(self.EDGES, 3, set(seeds)), seeds

    def test_seed_proximity_ordering(self, spark):
        from qdrant_datafusion_spark.operators.graph import pagerank

        # seed 4 only points at 1: 1 must outrank 2 (two hops from seed)
        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {
            r.node: r.rank_units
            for r in pagerank(df, iters=3, seeds=[4]).collect()
        }
        assert got[1] > got[2]
        assert got[4] > 0  # seed keeps its teleport mass

    def test_validation(self, spark):
        from qdrant_datafusion_spark.operators.graph import pagerank

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        with pytest.raises(ValueError):
            pagerank(df, seeds=[])


class TestTrainBpe:
    """operators.tokenizer.train_bpe — distributed BPE merge learning."""

    TEXTS = [
        "the cat sat on the mat",
        "The bat and the cat",
        "low lower lowest lowest",
        "a aa aaa aaaa",  # greedy-overlap: (a,a) on aaaa must give aa+aa
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id long, text string"
        )

    def test_matches_python_reference(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_reference,
            train_bpe,
        )

        got = train_bpe(self._df(spark), "text", n_merges=10)
        assert got == bpe_reference(self.TEXTS, 10)

    def test_greedy_overlap_semantics(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_reference,
            train_bpe,
        )

        # pure repeat corpus: merge 1 = (a,a) count 5; greedy left-to-right
        # turns 'aaaaaa' into aa+aa+aa, so merge 2 must be (aa,aa) count 2
        # — a re-scanning or boundary-eating replace would leave odd 'a'
        # residue and pick (a,a)/(aa,a) instead
        texts = ["aaaaaa"]
        df = spark.createDataFrame([(0, texts[0])], "id long, text string")
        got = train_bpe(df, "text", n_merges=2)
        assert [(r[1], r[2], r[3]) for r in got] == [
            ("a", "a", 5),
            ("aa", "aa", 2),
        ]
        assert got == bpe_reference(texts, 2)

    def test_early_exhaustion(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import train_bpe

        # one two-symbol word ('a' + end mark): exactly 1 possible merge,
        # then pairs run out — loop must break, not error
        df = spark.createDataFrame([(0, "a a a")], "id long, text string")
        got = train_bpe(df, "text", n_merges=5)
        assert len(got) == 1
        assert got[0][3] == 3  # (a, end) weighted by word count

    def test_validation(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import train_bpe

        with pytest.raises(ValueError):
            train_bpe(self._df(spark), "text", n_merges=0)
        with pytest.raises(ValueError):
            train_bpe(self._df(spark), "text", n_merges=10_001)


class TestTrainUnigram:
    """operators.tokenizer.train_unigram — hard-EM unigram-LM training."""

    TEXTS = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox",
        "lazy lazy dog dog dog the the",
        "quick brown foxes are quick",
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)], "id long, text string"
        )

    def test_matches_python_reference(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            train_unigram,
            unigram_reference,
        )

        kw = dict(
            max_piece_len=4, seed_multi=20, keep_multi=12, n_iters=3, top_k=15
        )
        got = train_unigram(self._df(spark), "text", **kw)
        assert got == unigram_reference(self.TEXTS, **kw)

    def test_single_chars_always_segmentable(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            train_unigram,
            unigram_reference,
        )

        # keep_multi=0 prunes every multi-char piece after iteration 1 —
        # the char-retention rule must keep every word segmentable and
        # the trainer must not error out
        texts = ["ab abc abcd", "xyz xyz"]
        df = spark.createDataFrame([(0, texts[0]), (1, texts[1])],
                                   "id long, text string")
        kw = dict(max_piece_len=3, seed_multi=5, keep_multi=0, n_iters=2,
                  top_k=10)
        got = train_unigram(df, "text", **kw)
        assert got == unigram_reference(texts, **kw)
        assert all(len(p) == 1 for _, p, _ in got)

    def test_viterbi_prefers_frequent_pieces(self):
        from qdrant_datafusion_spark.operators.tokenizer import (
            _qlog,
            _viterbi,
        )

        # 'abc': piece 'abc' (cnt 50) must beat a+b+c (cnt 5 each) —
        # one high-probability piece vs three low-probability ones
        counts = {"a": 5, "b": 5, "c": 5, "abc": 50}
        qt = _qlog(sum(counts.values()))
        costs = {p: qt - _qlog(c) for p, c in counts.items()}
        cost, np_, seg = _viterbi("abc", costs, 3)
        assert seg == "\x1fabc" and np_ == 1

    def test_marker_chars_stripped(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            train_unigram,
            unigram_reference,
        )

        texts = ["fo\x1fo bar\x1e bar foo"]
        df = spark.createDataFrame([(0, texts[0])], "id long, text string")
        kw = dict(max_piece_len=3, seed_multi=6, keep_multi=4, n_iters=2,
                  top_k=8)
        assert train_unigram(df, "text", **kw) == unigram_reference(
            texts, **kw
        )

    def test_validation(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import train_unigram

        for kw in (
            dict(max_piece_len=0),
            dict(n_iters=0),
            dict(n_iters=1001),
            dict(top_k=0),
            dict(seed_multi=-1),
        ):
            with pytest.raises(ValueError):
                train_unigram(self._df(spark), "text", **kw)

    def test_qlog_boundary_guard(self):
        from qdrant_datafusion_spark.operators.tokenizer import _qlog

        # ln(1) = 0 exactly -> v = 0.5, frac = 0.5: allowed special case
        assert _qlog(1) == 0
        # generic integers sit far from boundaries
        for n in (2, 3, 7, 1000, 123457):
            _qlog(n)


class TestBpeEncode:
    """operators.tokenizer.bpe_encode — trained-merge corpus encoding."""

    TEXTS = [
        "the cat sat on the mat",
        "The bat and the cat",
        "low lower lowest lowest",
        "aaaaaa aa",  # greedy-overlap replay at encode time
        "",  # empty text -> zero tokens, row kept
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)],
            "doc_id long, text string",
        )

    def test_matches_python_reference(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_encode,
            bpe_encode_reference,
            train_bpe,
        )

        df = self._df(spark)
        merges = train_bpe(df, "text", n_merges=8)
        ref = bpe_encode_reference(self.TEXTS, merges)
        rows = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
        assert len(rows) == len(self.TEXTS)  # empty doc keeps its row
        for i, pieces in enumerate(ref):
            assert rows[i]["pieces"] == pieces
            assert rows[i]["n_tokens"] == len(pieces)

    def test_ids_deterministic_and_reversible(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_encode,
            bpe_vocab_ids,
            train_bpe,
        )

        df = self._df(spark)
        merges = train_bpe(df, "text", n_merges=8)
        out = bpe_encode(df, merges).collect()
        # reconstruct the vocab independently and invert every id
        chars = sorted({c for t in self.TEXTS for c in t.lower()} - {" "})
        inv = {i: p for p, i in bpe_vocab_ids(chars, merges)}
        for r in out:
            assert [inv[i] for i in r["token_ids"]] == r["pieces"]
            assert all(i > 0 for i in r["token_ids"])  # 0 = <unk> unused

    def test_unk_id_for_unseen_chars(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_encode,
            train_bpe,
        )

        train = self._df(spark)
        merges = train_bpe(train, "text", n_merges=4)
        apply_df = spark.createDataFrame(
            [(99, "the zzz")], "doc_id long, text string"
        )
        # vocab=None would derive chars from apply_df itself; force the
        # TRAINING-corpus vocab ('z' unseen) to exercise the <unk> path
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_vocab_ids,
        )

        chars = sorted({c for t in self.TEXTS for c in t.lower()} - {" "})
        vocab = bpe_vocab_ids(chars, merges)
        r = bpe_encode(apply_df, merges, vocab=vocab).collect()[0]
        zids = [
            i
            for p, i in zip(r["pieces"], r["token_ids"])
            if "z" in p
        ]
        assert zids and all(i == 0 for i in zids)

    def test_vocab_ids_collision_keeps_min(self):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_vocab_ids,
        )

        # merges 1 and 2 both yield piece "abc": table keeps id of rank 1
        merges = [(1, "ab", "c", 9), (2, "a", "bc", 5)]
        table = dict(bpe_vocab_ids(["a", "b", "c"], merges))
        assert table["abc"] == 4 + 1  # END_MARK + 3 chars, then rank 1


class TestUnigramEncode:
    """operators.tokenizer.unigram_encode — Viterbi corpus encoding."""

    TEXTS = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox",
        "lazy lazy dog dog dog the the",
        "",
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)],
            "doc_id long, text string",
        )

    def test_matches_python_reference(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            train_unigram,
            unigram_encode,
            unigram_encode_reference,
        )

        df = self._df(spark)
        vocab = train_unigram(
            df, "text", max_piece_len=4, seed_multi=20, keep_multi=12,
            n_iters=2, top_k=10_000,
        )
        ref = unigram_encode_reference(self.TEXTS, vocab, max_piece_len=4)
        rows = {
            r["doc_id"]: r
            for r in unigram_encode(df, vocab, max_piece_len=4).collect()
        }
        ranks = {p: r for r, p, _ in vocab}
        for i, pieces in enumerate(ref):
            assert rows[i]["pieces"] == pieces
            assert rows[i]["n_tokens"] == len(pieces)
            assert rows[i]["token_ids"] == [ranks[p] for p in pieces]

    def test_round_trip_concatenation(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            train_unigram,
            unigram_encode,
        )

        df = self._df(spark)
        vocab = train_unigram(
            df, "text", max_piece_len=4, seed_multi=20, keep_multi=12,
            n_iters=2, top_k=10_000,
        )
        for r in unigram_encode(df, vocab, max_piece_len=4).collect():
            joined = "".join(r["pieces"])
            expected = "".join(self.TEXTS[r["doc_id"]].lower().split())
            assert joined == expected  # segmentation loses nothing


class TestPhashDups:
    """operators.phash — dHash codes + banded Hamming image dedup."""

    @staticmethod
    def _img(seed, bumps=()):
        import numpy as np

        rng = np.random.RandomState(seed)
        px = rng.randint(0, 150, size=(8, 9)).astype(np.uint8)
        for (y, x) in bumps:
            px[y, x] += 100
        return px

    def _media_df(self, spark, imgs):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from qdrant_datafusion_spark.operators.imaging import encode_png

        rows = [(i, bytearray(encode_png(px))) for i, px in imgs]
        return spark.createDataFrame(rows, "id long, media binary")

    def test_dhash_bits_manual(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.phash import dhash64

        # 9x8 integer image: expected bits from the definition directly
        px = self._img(3)
        code = dhash64(px)
        expect = 0
        for y in range(8):
            for x in range(8):
                expect = (expect << 1) | int(px[y, x] > px[y, x + 1])
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert code == expect

    def test_identical_images_distance_zero(self, spark):
        from qdrant_datafusion_spark.operators.phash import phash_image_dups

        df = self._media_df(
            spark, [(1, self._img(7)), (2, self._img(7)), (3, self._img(9))]
        )
        out = phash_image_dups(df, "media", "id", max_hamming=0).collect()
        assert {(r.id_a, r.id_b, r.hamming) for r in out} == {(1, 2, 0)}

    def test_planted_near_dup_found(self, spark):
        from qdrant_datafusion_spark.operators.phash import (
            dhash64,
            phash_image_dups,
        )

        # one bumped pixel flips <= 2 gradient bits vs the base image
        base, near = self._img(11), self._img(11, bumps=[(2, 4)])
        d = bin(
            (dhash64(base) ^ dhash64(near)) & ((1 << 64) - 1)
        ).count("1")
        assert 1 <= d <= 2
        df = self._media_df(
            spark, [(1, base), (2, near), (3, self._img(99))]
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in phash_image_dups(df, "media", "id", max_hamming=4).collect()
        }
        assert (1, 2) in got and got[(1, 2)] == d
        assert all(p == (1, 2) for p in got)  # random 3rd image stays out

    def test_null_and_undecodable_media_skipped(self, spark):
        from qdrant_datafusion_spark.operators.phash import (
            dhash_codes,
            phash_image_dups,
        )

        df = self._media_df(spark, [(1, self._img(5)), (2, self._img(5))])
        junk = spark.createDataFrame(
            [(3, bytearray(b"not a png")), (4, None)], "id long, media binary"
        )
        allm = df.unionByName(junk)
        assert dhash_codes(allm, "media", "id").count() == 2
        out = phash_image_dups(allm, "media", "id", max_hamming=0).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}

    def test_bucket_cap_drops_hot_block(self, spark):
        from qdrant_datafusion_spark.operators.phash import phash_image_dups

        # 5 identical images: every block bucket holds 5 members; cap 4
        # removes them all -> no pairs (the SimHash skew-guard contract)
        df = self._media_df(spark, [(i, self._img(42)) for i in range(5)])
        assert (
            phash_image_dups(
                df, "media", "id", max_hamming=2, max_bucket_size=4
            ).count()
            == 0
        )
        assert (
            phash_image_dups(df, "media", "id", max_hamming=2).count() == 10
        )

    def test_validation(self, spark):
        import pytest as _pytest

        from qdrant_datafusion_spark.operators.phash import phash_image_dups

        df = self._media_df(spark, [(1, self._img(1))])
        with _pytest.raises(ValueError):
            phash_image_dups(df, "media", "id", max_hamming=-1)
        with _pytest.raises(ValueError):
            phash_image_dups(df, "media", "id", max_hamming=1, blocks=65)


class TestAudioEnergyDups:
    """operators.audio — WAV codec + integer energy-envelope Hamming dedup."""

    @staticmethod
    def _clip(seed, boost_frame=None):
        import numpy as np

        rng = np.random.RandomState(seed)
        x = rng.randint(-120, 120, size=65 * 64).astype(np.int16)
        if boost_frame is not None:
            x[boost_frame * 64 : boost_frame * 64 + 32] += 100
        return x

    def _media_df(self, spark, clips):
        from qdrant_datafusion_spark.operators.audio import encode_wav

        rows = [(i, bytearray(encode_wav(x))) for i, x in clips]
        return spark.createDataFrame(rows, "id long, media binary")

    def test_wav_roundtrip(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.audio import (
            decode_wav_samples,
            encode_wav,
        )

        x = self._clip(1)
        assert np.array_equal(decode_wav_samples(encode_wav(x)), x)

    def test_hash_matches_manual_bits(self):
        from qdrant_datafusion_spark.operators.audio import energy_hash64

        x = self._clip(2)
        e = [sum(int(v) ** 2 for v in x[f * 64 : (f + 1) * 64]) for f in range(65)]
        expect = 0
        for f in range(64):
            expect = (expect << 1) | int(e[f + 1] > e[f])
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert energy_hash64(x, 64) == expect

    def test_gain_invariance(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.audio import energy_hash64

        # uniform gain scales every frame energy by the same factor, so
        # every comparison bit survives — the envelope-hash dedup property
        x = self._clip(3)
        assert energy_hash64(x) == energy_hash64((x.astype(np.int64) * 3))

    def test_planted_near_dup_found(self, spark):
        import numpy as np

        from qdrant_datafusion_spark.operators.audio import (
            audio_energy_dups,
            energy_hash64,
        )

        # constructed envelope: per-frame constant amplitude 10+(f%3), so
        # every comparison bit is known (…10,11,12,10,11,12…).  Boosting
        # frame 21 — a local MINIMUM (amplitude 10) — to 112 flips
        # exactly two bits: bit20 (e21>e20: 0→1) and bit21 (e22>e21:
        # 1→0).  A one-frame perturbation must pair within max_hamming
        # while an unrelated clip must not.
        amp = np.repeat([10 + (f % 3) for f in range(65)], 64)
        base = amp.astype(np.int16)
        near = base.copy()
        near[21 * 64 : 22 * 64] = 112
        d = bin(
            (energy_hash64(base) ^ energy_hash64(near)) & ((1 << 64) - 1)
        ).count("1")
        assert d == 2
        df = self._media_df(spark, [(1, base), (2, near), (3, self._clip(77))])
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in audio_energy_dups(df, "media", "id", max_hamming=4).collect()
        }
        assert got == {(1, 2): d}

    def test_junk_and_null_media_skipped(self, spark):
        from qdrant_datafusion_spark.operators.audio import (
            audio_energy_dups,
            audio_hash_codes,
        )

        df = self._media_df(spark, [(1, self._clip(9)), (2, self._clip(9))])
        junk = spark.createDataFrame(
            [(3, bytearray(b"RIFFnope")), (4, None)], "id long, media binary"
        )
        allm = df.unionByName(junk)
        assert audio_hash_codes(allm, "media", "id").count() == 2
        out = audio_energy_dups(allm, "media", "id", max_hamming=0).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


class TestVideoTemporalDups:
    """operators.video — Y4M demux + integer temporal-envelope dedup."""

    @staticmethod
    def _clip(seed, boost_frame=None):
        import numpy as np

        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 200, size=(8, 16)).astype(np.uint8)
            for _ in range(65)
        ]
        if boost_frame is not None:
            frames[boost_frame] = np.minimum(
                frames[boost_frame].astype(np.int32) + 55, 255
            ).astype(np.uint8)
        return frames

    def _media_df(self, spark, clips):
        from qdrant_datafusion_spark.operators.imaging import encode_y4m

        rows = [(i, bytearray(encode_y4m(fs))) for i, fs in clips]
        return spark.createDataFrame(rows, "id long, media binary")

    def test_hash_matches_manual_bits(self):
        from qdrant_datafusion_spark.operators.imaging import encode_y4m
        from qdrant_datafusion_spark.operators.video import (
            video_temporal_hash64,
        )

        frames = self._clip(4)
        sums = [int(f.astype("int64").sum()) for f in frames]
        expect = 0
        for k in range(64):
            expect = (expect << 1) | int(sums[k + 1] > sums[k])
        if expect >= 1 << 63:
            expect -= 1 << 64
        assert video_temporal_hash64(encode_y4m(frames)) == expect

    def test_brightness_invariance(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import encode_y4m
        from qdrant_datafusion_spark.operators.video import (
            video_temporal_hash64,
        )

        # uniform brightness scaling preserves every luma-sum comparison
        frames = self._clip(6)
        dimmed = [(f // 2).astype(np.uint8) for f in frames]
        assert video_temporal_hash64(
            encode_y4m(frames)
        ) == video_temporal_hash64(encode_y4m(dimmed))

    def test_identical_clips_and_junk_media(self, spark):
        from qdrant_datafusion_spark.operators.video import (
            video_hash_codes,
            video_temporal_dups,
        )

        df = self._media_df(spark, [(1, self._clip(8)), (2, self._clip(8))])
        junk = spark.createDataFrame(
            [(3, bytearray(b"YUV4MPEG2 torn")), (4, None)],
            "id long, media binary",
        )
        allm = df.unionByName(junk)
        assert video_hash_codes(allm, "media", "id").count() == 2
        out = video_temporal_dups(allm, "media", "id", max_hamming=0).collect()
        assert {(r.id_a, r.id_b, r.hamming) for r in out} == {(1, 2, 0)}

    def test_short_clip_zero_pads(self):
        from qdrant_datafusion_spark.operators.imaging import encode_y4m
        from qdrant_datafusion_spark.operators.video import (
            video_temporal_hash64,
        )

        # 3 frames: bits 0..1 from real sums, bit 2 = (0 > s_2) = 0,
        # bits 3..63 all (0 > 0) = 0 — deterministic, no crash
        frames = self._clip(2)[:3]
        code = video_temporal_hash64(encode_y4m(frames))
        assert code is not None
        assert code & ((1 << 61) - 1) == 0  # bits 2..63 are zero


class TestFloorDivBucketing:
    """entry_queries._floor_div — engine-identical bucketing for ANY
    timestamp sign (round-6 verdict task #6: pre-1970 ts used to
    silently diverge between Spark `div` and DuckDB `//`)."""

    # straddle the epoch, include exact boundaries and boundary-1
    TS = [-7_200_000_000_001, -3_600_000_000_000, -1, 0, 1,
          3_599_999_999_999, 3_600_000_000_000, 7_200_000_000_001]
    HOUR = 3_600_000_000_000

    def test_matches_duckdb_floor_form(self, spark):
        import duckdb

        from qdrant_datafusion_spark.entry_queries import (
            _floor_div,
            _floor_div_sql,
        )

        df = spark.createDataFrame([(t,) for t in self.TS], "ts long")
        got = {
            r["ts"]: r["b"]
            for r in df.select(
                "ts", _floor_div("ts", self.HOUR).alias("b")
            ).collect()
        }
        con = duckdb.connect()
        want = dict(
            con.execute(
                f"SELECT ts, {_floor_div_sql('ts', self.HOUR)} FROM "
                f"(SELECT unnest({list(self.TS)}::BIGINT[]) AS ts)"
            ).fetchall()
        )
        assert got == want
        assert got == {t: t // self.HOUR for t in self.TS}  # Python floor

    def test_native_div_truncates_identically_on_both_engines(self, spark):
        # the measured fact the helper's docstring records: Spark `div`
        # and DuckDB integer `//` BOTH truncate toward zero — raw-div
        # bucketing was never engine-divergent, just not calendar-floor
        import duckdb

        df = spark.createDataFrame([(t,) for t in self.TS], "ts long")
        spark_trunc = {
            r["ts"]: r["b"]
            for r in df.selectExpr(
                "ts", f"ts div {self.HOUR} AS b"
            ).collect()
        }
        con = duckdb.connect()
        duck_trunc = dict(
            con.execute(
                f"SELECT ts, ts // {self.HOUR} FROM "
                f"(SELECT unnest({list(self.TS)}::BIGINT[]) AS ts)"
            ).fetchall()
        )
        assert spark_trunc == duck_trunc
        # and truncation differs from floor exactly on the non-multiple
        # negatives — the buckets the floor helper corrects
        floor = {t: t // self.HOUR for t in self.TS}
        assert {t for t in self.TS if spark_trunc[t] != floor[t]} == {
            t for t in self.TS if t < 0 and t % self.HOUR
        }

    def test_python_floor_semantics(self, spark):
        from qdrant_datafusion_spark.entry_queries import _floor_div

        df = spark.createDataFrame([(t,) for t in self.TS], "ts long")
        got = [
            r["b"]
            for r in df.select(
                _floor_div("ts", self.HOUR).alias("b")
            ).orderBy("b").collect()
        ]
        assert got == sorted(t // self.HOUR for t in self.TS)


class TestLangIdNgram:
    ROWS = [
        (0, "aaa bbb aaa", "x"),
        (1, "aaa aaa aaa", "x"),
        (2, "ccc ddd ccc", "y"),
        (3, "ccc ccc ddd", "y"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.ROWS, "doc_id long, text string, lang string"
        )

    def test_model_shape_and_classification(self, spark):
        from qdrant_datafusion_spark.operators.langid import (
            lang_id_ngram,
            train_lang_ngram,
        )

        m = train_lang_ngram(self._df(spark), top_k=20)
        assert m.langs == ("x", "y")
        assert set(m.weights) == {"x", "y"}
        assert all(len(w) <= 20 for w in m.weights.values())
        got = {
            r["doc_id"]: r["pred_lang"]
            for r in lang_id_ngram(self._df(spark), m).collect()
        }
        # each doc is dominated by its own language's ngrams
        assert got == {0: "x", 1: "x", 2: "y", 3: "y"}

    def test_null_text_gets_prior_argmax(self, spark):
        from qdrant_datafusion_spark.operators.langid import (
            lang_id_ngram,
            train_lang_ngram,
        )

        m = train_lang_ngram(self._df(spark))
        df = spark.createDataFrame(
            [(9, None, None)], "doc_id long, text string, lang string"
        )
        [r] = lang_id_ngram(df, m).collect()
        # equal priors (2 docs each): tie broken by language ascending
        assert r["pred_lang"] == "x"

    def test_empty_corpus_trains_empty_model(self, spark):
        from qdrant_datafusion_spark.operators.langid import (
            lang_id_ngram,
            train_lang_ngram,
        )

        empty = spark.createDataFrame(
            [], "doc_id long, text string, lang string"
        )
        m = train_lang_ngram(empty)
        assert m.langs == ()
        [r] = lang_id_ngram(
            spark.createDataFrame(
                [(1, "abc", "x")], "doc_id long, text string, lang string"
            ),
            m,
        ).collect()
        assert r["pred_lang"] is None

    def test_multiplicity_counts(self, spark):
        """Occurrences (not distinct ngrams) drive the score: a doc
        repeating one language's dominant trigram many times must
        classify to it even when a single foreign trigram appears."""
        from qdrant_datafusion_spark.operators.langid import (
            lang_id_ngram,
            train_lang_ngram,
        )

        m = train_lang_ngram(self._df(spark), top_k=20)
        df = spark.createDataFrame(
            [(7, "aaa aaa aaa aaa ccc", None)],
            "doc_id long, text string, lang string",
        )
        [r] = lang_id_ngram(df, m).collect()
        assert r["pred_lang"] == "x"


class TestBpeEncodeViaWords:
    TEXTS = [
        "the cat sat on the mat",
        "the hat and the cat",
        "a cat a mat a hat",
        "",
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)]
            + [(99, None)],
            "doc_id long, text string",
        )

    def test_bit_identical_to_direct_encode(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_encode,
            bpe_encode_via_words,
            train_bpe,
        )

        df = self._df(spark)
        merges = train_bpe(df, "text", n_merges=6)
        direct = {
            r["doc_id"]: (r["n_tokens"], r["pieces"], r["token_ids"])
            for r in bpe_encode(df, merges).collect()
        }
        via = {
            r["doc_id"]: (r["n_tokens"], r["pieces"], r["token_ids"])
            for r in bpe_encode_via_words(df, merges).collect()
        }
        assert direct == via
        # wordless docs kept with empty arrays on both paths
        assert via[3] == (0, [], [])
        assert via[99] == (0, [], [])

    def test_unseen_chars_get_unk_on_both_paths(self, spark):
        from qdrant_datafusion_spark.operators.tokenizer import (
            bpe_encode,
            bpe_encode_via_words,
            bpe_vocab_ids,
            train_bpe,
        )

        train = self._df(spark)
        merges = train_bpe(train, "text", n_merges=4)
        chars = sorted({c for t in self.TEXTS for c in t} - {" "})
        vocab = bpe_vocab_ids(chars, merges)
        apply_df = spark.createDataFrame(
            [(0, "the zzz")], "doc_id long, text string"
        )
        d = bpe_encode(apply_df, merges, vocab=vocab).collect()[0]
        v = bpe_encode_via_words(apply_df, merges, vocab=vocab).collect()[0]
        assert d["token_ids"] == v["token_ids"]
        assert 0 in v["token_ids"]  # the unseen 'z' pieces hit <unk>


class TestHits:
    """operators.graph.hits — integer L1-normalized HITS (Kleinberg
    1999); every assertion compares against a pure-Python fold of the
    same HALF_UP integer algebra."""

    EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]

    @staticmethod
    def _reference(edges, iters, units=10**6):
        def hu(a, b):
            return (2 * a + b) // (2 * b)

        nodes = sorted({n for e in edges for n in e})
        N = len(nodes)
        h = {n: hu(units, N) for n in nodes}
        a = None
        for _ in range(iters):
            raw = {n: 0 for n in nodes}
            for s, d in edges:
                raw[d] += h[s]
            tot = sum(raw.values())
            a = {n: hu(raw[n] * units, tot) for n in nodes}
            raw = {n: 0 for n in nodes}
            for s, d in edges:
                raw[s] += a[d]
            tot = sum(raw.values())
            h = {n: hu(raw[n] * units, tot) for n in nodes}
        return a, h

    def _run(self, spark, edges, **kw):
        from qdrant_datafusion_spark.operators.graph import hits

        df = spark.createDataFrame(edges, "src long, dst long")
        rows = hits(df, **kw).collect()
        return (
            {r.node: r.auth_units for r in rows},
            {r.node: r.hub_units for r in rows},
        )

    def test_matches_integer_reference(self, spark):
        for iters in (1, 2):
            got_a, got_h = self._run(
                spark, self.EDGES, iters=iters, materialize=False
            )
            ref_a, ref_h = self._reference(self.EDGES, iters)
            assert got_a == ref_a
            assert got_h == ref_h

    def test_roles_separate(self, spark):
        # node 3 is the in-degree magnet -> top authority; node 1 points
        # at both high authorities -> top hub; L1 mass ~ units each side
        got_a, got_h = self._run(spark, self.EDGES, iters=2)
        assert max(got_a, key=got_a.get) == 3
        assert max(got_h, key=got_h.get) == 1
        assert abs(sum(got_a.values()) - 10**6) <= len(got_a)
        assert abs(sum(got_h.values()) - 10**6) <= len(got_h)

    def test_layout_and_materialize_independent(self, spark):
        from qdrant_datafusion_spark.operators.graph import hits

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        a = {r.node: (r.auth_units, r.hub_units) for r in hits(df).collect()}
        b = {
            r.node: (r.auth_units, r.hub_units)
            for r in hits(df.repartition(5), materialize=False).collect()
        }
        assert a == b

    def test_bad_iters_raises(self, spark):
        from qdrant_datafusion_spark.operators.graph import hits

        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        with pytest.raises(ValueError):
            hits(df, iters=0)


class TestRound13Optimizations:
    """Round-13 optimization invariants: precomputed-bucket seams and the
    scale-adaptive GEMM grid must be output-invariant."""

    def test_simhash_precomputed_buckets_match(self, spark, docs):
        from qdrant_datafusion_spark.operators.dedup import (
            simhash_buckets,
            simhash_hot_buckets,
        )

        sub = docs.limit(80)
        base = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_dups(
                sub, "text", "doc_id", max_hamming=4, blocks=5,
                max_bucket_size=None,
            ).collect()
        }
        b = simhash_buckets(sub, "text", "doc_id", max_hamming=4, blocks=5)
        via_buckets = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_dups(
                sub, "text", "doc_id", max_hamming=4, blocks=5,
                max_bucket_size=None, buckets=b,
            ).collect()
        }
        assert via_buckets == base
        hot_base = {
            (r.bid, r.bval, r.n_members)
            for r in simhash_hot_buckets(
                sub, "text", "doc_id", max_hamming=4, blocks=5,
                max_bucket_size=2,
            ).collect()
        }
        hot_via = {
            (r.bid, r.bval, r.n_members)
            for r in simhash_hot_buckets(
                sub, "text", "doc_id", max_hamming=4, blocks=5,
                max_bucket_size=2, buckets=b,
            ).collect()
        }
        assert hot_via == hot_base

    def test_auto_gemm_nblocks_floor_and_scaling(self):
        from qdrant_datafusion_spark.operators.ann import _auto_gemm_nblocks

        # floor: the multi-block cross-block path stays exercised at tiny n
        assert _auto_gemm_nblocks(1) == 4
        assert _auto_gemm_nblocks(2000) == 4
        # scaling: blocks track n/4096 so per-task state stays bounded
        assert _auto_gemm_nblocks(4096 * 4) == 4
        assert _auto_gemm_nblocks(4096 * 4 + 1) == 5
        assert _auto_gemm_nblocks(100_000) == 25

    def test_self_knn_auto_blocking_matches_explicit(self, spark, emb):
        # output is blocking-invariant: default (auto grid) == legacy
        # explicit 32-row blocks on the same subset
        from qdrant_datafusion_spark.operators import self_knn_join

        sub = emb.limit(120)
        auto = {
            (r.id, r.nbr_id, r.score, r.rank)
            for r in self_knn_join(sub, "embedding", "vec_id", k=4).collect()
        }
        legacy = {
            (r.id, r.nbr_id, r.score, r.rank)
            for r in self_knn_join(
                sub, "embedding", "vec_id", k=4, block_size=32
            ).collect()
        }
        assert auto == legacy

    def test_embedding_near_dups_auto_blocking_matches_explicit(self, emb):
        sub = emb.limit(120)
        auto = {
            (r.id_a, r.id_b, round(r.cosine, 9))
            for r in embedding_near_dups(
                sub, "embedding", "vec_id", 0.3
            ).collect()
        }
        legacy = {
            (r.id_a, r.id_b, round(r.cosine, 9))
            for r in embedding_near_dups(
                sub, "embedding", "vec_id", 0.3, block_size=32
            ).collect()
        }
        assert auto == legacy
