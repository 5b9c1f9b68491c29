"""Physical-plan assertions: the optimizations the engine claims must be
visible in the executed plan, not just asserted (SURVEY.md §4: Catalyst
strictly dominates the reference's optimizer surface — prove it)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import v_search
from qdrant_datafusion_spark.plans import (
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    scan_schema_columns,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


class TestPushdown:
    def test_filter_pushdown_reaches_scan(self, lineitem):
        """The reference ignores filters at the scan (src/table.rs:174-175);
        Catalyst pushes them into the parquet reader."""
        df = lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey")
        filters = pushed_filters(df)
        assert any("l_quantity" in f for f in filters), filters

    def test_column_pruning(self, lineitem):
        """2-column projection must scan 2 columns, not 16 — the Spark
        equivalent of the reference's vector-selector fetch pruning
        (src/utils.rs:53-83)."""
        df = lineitem.select("l_orderkey", "l_quantity")
        cols = scan_schema_columns(df)
        assert set(cols) == {"l_orderkey", "l_quantity"}

    def test_id_in_filter_pushdown(self, spark, sf_dir):
        """The WHERE id IN (...) shape (reference README.md:70-72) pushes
        In-filters to the scan."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        df = emb.filter(F.col("vec_id").isin([1, 2, 3])).select("embedding")
        assert any("vec_id" in f for f in pushed_filters(df))


class TestTopKPlan:
    def test_topk_is_take_ordered(self, spark, sf_dir):
        """ORDER BY score DESC LIMIT k must compile to TakeOrderedAndProject
        (per-partition heaps), not a global Sort+Limit."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        df = (
            emb.select("vec_id", v_search("embedding", [0.1] * 64).alias("score"))
            .orderBy(F.desc("score"))
            .limit(10)
        )
        assert has_take_ordered(df)

    def test_literal_query_scores_double_constants(self, spark, sf_dir):
        """A literal query costs no per-row work of its own: corpus SQL
        scores DOUBLE constants (a DECIMAL array literal would be cast
        element by element on every row), and the DataFrame cosine top-k
        folds twice per row (dot and row norm) — the query norm is folded
        once when the plan is built."""
        from qdrant_datafusion_spark.collections import CollectionDescriptor, VectorField
        from qdrant_datafusion_spark.operators import top_k
        from qdrant_datafusion_spark.sql_dialect import corpus_sql

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        emb.createOrReplaceTempView("_plan_points")
        q = [0.1 * ((i % 7) - 3) for i in range(64)]
        desc = CollectionDescriptor(
            name="_plan_points", fields=(VectorField("embedding", 64, "cosine"),)
        )
        text = (
            "SELECT vec_id, V_SEARCH('embedding', ["
            + ", ".join(repr(x) for x in q)
            + "]) AS score FROM _plan_points ORDER BY score DESC LIMIT 5"
        )
        df = spark.sql(corpus_sql(text, desc, view="_plan_points"))
        plan = df._jdf.queryExecution().executedPlan()
        assert "decimal" not in plan.toJSON().lower()
        assert has_take_ordered(df)

        top = top_k(emb, "embedding", q, 10, id_col="vec_id")
        assert top._jdf.queryExecution().executedPlan().toString().count("aggregate(") == 2

    def test_literal_distance_folds_the_query_once(self, spark, sf_dir):
        """Corpus ``V_DISTANCE`` with a literal query renders the kernel
        inline: the cosine distance folds twice per row (dot and row
        norm) where the registered function folds three times, and both
        paths return the same bits."""
        from qdrant_datafusion_spark.collections import CollectionDescriptor, VectorField
        from qdrant_datafusion_spark.functions import register_all
        from qdrant_datafusion_spark.sql_dialect import corpus_sql

        register_all(spark)
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").createOrReplaceTempView(
            "_plan_points"
        )
        q = [0.1 * ((i % 7) - 3) for i in range(64)]
        desc = CollectionDescriptor(
            name="_plan_points", fields=(VectorField("embedding", 64, "cosine"),)
        )
        lit = ", ".join(repr(x) for x in q)
        inline = spark.sql(corpus_sql(
            f"SELECT vec_id, V_DISTANCE([{lit}], 'cosine') AS d FROM _plan_points",
            desc, view="_plan_points",
        ))
        called = spark.sql(
            f"SELECT vec_id, V_DISTANCE(CAST(embedding AS ARRAY<DOUBLE>), "
            f"array({lit}), 'cosine') AS d FROM _plan_points"
        )
        assert sorted(inline.collect()) == sorted(called.collect())
        plan = inline._jdf.queryExecution().executedPlan().toString()
        assert plan.count("aggregate(") == 2


class TestJoinStrategy:
    def test_small_dim_join_broadcasts(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        assert has_broadcast_join(joined)


class TestCollectionSource:
    def test_python_datasource_roundtrip(self, spark, tmp_path):
        """The custom DataSource reads a collection directory with the
        descriptor-derived schema (provider parity, src/table.rs:132-146)."""
        from qdrant_datafusion_spark import fixtures
        from qdrant_datafusion_spark.collections import CollectionCatalog
        from qdrant_datafusion_spark.sources import register_collection_source

        cat = CollectionCatalog(spark, str(tmp_path))
        cat.write(fixtures.UNNAMED, fixtures.unnamed_df(spark))
        register_collection_source(spark)
        df = (
            spark.read.format("qdrant_collection")
            .option("path", str(tmp_path / "unnamed"))
            .load()
        )
        assert sorted(df.columns) == ["id", "payload", "vector"]
        assert df.count() == 3
        got = df.filter(F.col("id") == "2").collect()[0]
        assert [round(x, 6) for x in got.vector] == [0.4, 0.5, 0.6]


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark, sf_dir, tmp_path):
        """Co-located join via bucketing (the 100 TB repeated-join path):
        both sides bucketed+sorted on the join key join with ZERO shuffle
        exchanges — only broadcast exchanges or none at all appear."""
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey"
        )
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .mode("overwrite").saveAsTable("li_b"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .mode("overwrite").saveAsTable("ord_b"))
        # disable broadcast so the join MUST be sort-merge: with aligned
        # buckets it needs no exchange at all
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("li_b").join(
                spark.table("ord_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan, plan
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
            spark.sql("DROP TABLE IF EXISTS li_b")
            spark.sql("DROP TABLE IF EXISTS ord_b")


class TestIvfPartitionPruning:
    def test_probe_prunes_unprobed_cells(self, spark, sf_dir, tmp_path):
        """The IVF scale path: assignments written partitionBy(ivf_cell)
        make probing a partition-pruned read — the plan's partition filter
        must reference the probed cells and the scan must read only their
        directories (the on-disk analogue of Qdrant's per-cell index)."""
        import os

        from qdrant_datafusion_spark.operators.ann import (
            assign_ivf_cells,
            train_ivf_centroids,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("id"), "embedding"
        )
        cents = train_ivf_centroids(emb, "embedding", k=4, iterations=2)
        out = str(tmp_path / "ivf_parts")
        assign_ivf_cells(emb, "embedding", cents).write.partitionBy(
            "ivf_cell"
        ).parquet(out)
        assert sorted(
            d for d in os.listdir(out) if d.startswith("ivf_cell=")
        ), "partitioned layout missing"

        probed = spark.read.parquet(out).filter(F.col("ivf_cell").isin([0, 1]))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "ivf_cell" in plan
        # the partition filter must carry the probed cells into the scan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "ivf_cell" in m.group(1), plan[:400]
        # and only the probed cells' rows come back
        cells = {r.ivf_cell for r in probed.select("ivf_cell").distinct().collect()}
        assert cells <= {0, 1}


class TestCollectionSourcePushdown:
    """The connector seam honors the reference's full pushdown contract
    (projection src/utils.rs:53-83, limit src/table.rs:296-298, and
    filters — which the reference drops at src/table.rs:174-175)."""

    def _write(self, spark, tmp_path):
        from qdrant_datafusion_spark import fixtures
        from qdrant_datafusion_spark.collections import CollectionCatalog

        cat = CollectionCatalog(spark, str(tmp_path))
        cat.write(fixtures.UNNAMED, fixtures.unnamed_df(spark), partitions=2)
        return str(tmp_path / "unnamed")

    def test_projection_reads_only_requested_columns(self, spark, tmp_path):
        from qdrant_datafusion_spark.sources import register_collection_source
        from qdrant_datafusion_spark.sources.collection_source import (
            CollectionReader,
        )

        path = self._write(spark, tmp_path)
        register_collection_source(spark)
        df = (
            spark.read.format("qdrant_collection")
            .option("path", path)
            .option("columns", "id,payload")
            .load()
        )
        assert df.columns == ["id", "payload"]  # schema narrowed at source
        assert df.count() == 3
        # fragment-level proof: batches carry ONLY the projected columns
        reader = CollectionReader(path, df.schema, {"columns": "id,payload"})
        for part in reader.partitions():
            for batch in reader.read(part):
                assert batch.schema.names == ["id", "payload"]

    def test_limit_stops_fragment_read(self, spark, tmp_path):
        from qdrant_datafusion_spark.sources.collection_source import (
            CollectionReader,
        )

        path = self._write(spark, tmp_path)
        reader = CollectionReader(path, None, {"limit": "1"})
        for part in reader.partitions():
            rows = sum(b.num_rows for b in reader.read(part))
            assert rows <= 1  # each fragment stops at the pushed limit

    def test_pushed_filter_reduces_fragment_rows(self, spark, tmp_path):
        from pyspark.sql.datasource import EqualTo, Not

        from qdrant_datafusion_spark.sources.collection_source import (
            CollectionReader,
        )

        path = self._write(spark, tmp_path)
        reader = CollectionReader(path, None, {})
        # seam accepts the equality, hands the unsupported Not back to Spark
        leftover = list(
            reader.pushFilters(
                [EqualTo(("id",), "2"), Not(EqualTo(("payload",), "x"))]
            )
        )
        assert [type(f).__name__ for f in leftover] == ["Not"]
        total = sum(
            b.num_rows for part in reader.partitions() for b in reader.read(part)
        )
        assert total == 1  # filter applied AT the fragment scan

    def test_filtered_read_end_to_end(self, spark, tmp_path):
        from qdrant_datafusion_spark.sources import register_collection_source

        path = self._write(spark, tmp_path)
        register_collection_source(spark)
        df = (
            spark.read.format("qdrant_collection")
            .option("path", path)
            .load()
            .filter(F.col("id") == "2")
        )
        rows = df.collect()
        assert len(rows) == 1
        assert [round(x, 6) for x in rows[0].vector] == [0.4, 0.5, 0.6]
