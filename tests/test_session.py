from __future__ import annotations


class TestSessionScaleConfigs:
    """The two deliberately-coupled parallelism knobs (round 13).

    ``spark.default.parallelism=1`` exists ONLY to stop driver-local
    1-row relations (pyspark.ml DefaultParamsWriter metadata) from being
    sliced into per-core pickled partitions that a coalesce(1) consumer
    walks sequentially through Python-worker roundtrips.  AQE's
    coalescePartitions floor silently falls back to defaultParallelism
    when ``minPartitionNum`` is unset, so the =1 fix would otherwise let
    AQE coalesce every small-byte shuffle to ONE partition and serialize
    CPU-heavy post-shuffle stages (measured 2.3x on the 10x kNN-graph
    gate).  The session must therefore always pin the floor explicitly
    to the scale-parameterised shuffle-partition count.
    """

    def test_aqe_floor_pinned_to_shuffle_partitions(self, spark):
        assert spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum"
        ) == spark.conf.get("spark.sql.shuffle.partitions")

    def test_default_parallelism_stays_one_for_local_relations(self, spark):
        # the ML-writer fix: 1 slice for driver-local parallelize /
        # createDataFrame relations
        assert spark.sparkContext.defaultParallelism == 1

    def test_default_parallelism_one_rdd_relation_allowlist(self):
        # Guard for the global default.parallelism=1 knob (r13 VERDICT
        # item 4): any RDD-backed relation (spark.range, parallelize)
        # materializes at ONE partition under it, so a future operator
        # ranging over a large n would silently serialize its kernel.
        # Every spark.range site in the package must either stay a tiny
        # literal relation or be immediately re-spread (fan_out /
        # repartition) before heavy per-row work — reviewed sites are
        # pinned here; adding a new one requires re-review.
        import ast
        import glob
        import os

        pkg = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "qdrant_datafusion_spark",
        )

        def is_rdd_relation(call: ast.Call) -> bool:
            # x.parallelize(...), or .range(...) on a receiver named
            # spark / sparkSession (spark.range, df.sparkSession.range)
            f = call.func
            if not isinstance(f, ast.Attribute):
                return False
            if f.attr == "parallelize":
                return True
            owner = f.value
            name = owner.id if isinstance(owner, ast.Name) else getattr(owner, "attr", None)
            return f.attr == "range" and name in ("spark", "sparkSession")

        # (file, innermost enclosing def) pairs for each RDD-relation
        # call; calls outside any def count as "<module>"
        found = set()

        def walk(node: ast.AST, rel: str, owner: str) -> None:
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    walk(child, rel, child.name)
                    continue
                if isinstance(child, ast.Call) and is_rdd_relation(child):
                    found.add((rel, owner))
                walk(child, rel, owner)

        for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
            with open(path, encoding="utf-8") as f:
                walk(ast.parse(f.read()), os.path.relpath(path, pkg), "<module>")
        allowed = {
            # boilerplate-skew fixture: 2x n_docs rows of one constant
            # string, consumed ONLY by signature builders that fan_out
            # before the shingle walk (verified round 13)
            ("entry_queries/dedup.py", "_skew_fixture"),
            # 63-row literal bucket table feeding a broadcast join
            ("entry_queries/relational.py", "q_range_bucket_join"),
        }
        new_sites = found - allowed
        assert not new_sites, (
            "new RDD-backed relation site(s) under default.parallelism=1 "
            f"need review + allowlisting: {sorted(new_sites)}"
        )

    def test_aqe_floor_binds_on_byte_heavy_shuffle(self, spark):
        # Round-14 rewrite of a previously-vacuous pin (ADVICE r13): the
        # old assertion matched a string AQE never renders, over a query
        # that planned NO exchange at all (spark.range is 1-partition
        # under default.parallelism=1, and SinglePartition satisfies the
        # groupBy distribution).  The honest contract, measured:
        #
        # - shuffles ABOVE ~minPartitionNum x minPartitionSize keep at
        #   least the pinned floor's parallelism (no collapse to 1);
        # - shuffles BELOW that merge toward 1 BY DESIGN (byte-bound;
        #   forcing the floor to bind everywhere was A/B-measured in
        #   round 14 as a 1.5-3x net regression across 6 of 18 gates —
        #   see session.py's minPartitionSize note).  CPU-heavy small
        #   shuffles spread explicitly via fan_out instead.
        #
        # Input is explicitly multi-partition and the aggregate payload
        # is kept live downstream (size(hs)) so column pruning cannot
        # shrink the shuffle below the bind threshold.
        from pyspark.sql import functions as F

        df = (
            spark.range(300_000)
            .repartition(8)
            .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.collect_list("h").alias("hs"))
            .select(
                F.spark_partition_id().alias("p"), F.size("hs").alias("s")
            )
        )
        # collect(), not count(): count() lets the optimizer prune
        # sum(s) -> s -> the collect_list payload, shrinking the shuffle
        # below the bind threshold (the guide §1.4 count() trap)
        occupied = len(df.groupBy("p").agg(F.sum("s")).collect())
        assert occupied >= 2, f"byte-heavy shuffle collapsed to {occupied}"


class TestSharedBuild:
    """``session.shared_build``: one owner session's builds, released
    when another session takes over.  New sessions stand in for the
    other sessions (a stub for a stopped one), so the shared test
    session is never stopped."""

    def test_stopped_owner_is_dropped_without_touching_its_jvm(self, spark):
        from types import SimpleNamespace

        from qdrant_datafusion_spark.session import shared_build

        released = []

        class Frame:  # a pin whose release would need the stopped JVM
            def persist(self):
                return self

            def unpersist(self):
                released.append(self)

        stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
        shared_build(stopped, "k", lambda pin: pin(Frame()))
        assert shared_build(spark.newSession(), "k", lambda pin: "live") == "live"
        assert released == []

    def test_another_sessions_entry_is_never_served(self, spark, sf_dir):
        from qdrant_datafusion_spark.entry_queries._common import _t
        from qdrant_datafusion_spark.entry_queries.dedup import _skew_fixture
        from qdrant_datafusion_spark.session import shared_build

        other, mine = spark.newSession(), spark.newSession()
        assert shared_build(other, "k", lambda pin: "other") == "other"
        assert shared_build(mine, "k", lambda pin: "mine") == "mine"
        # the skew fixture's document count, first counted by another session
        shared_build(other, ("n_docs", sf_dir), lambda pin: -1)
        _, boiler, n_docs = _skew_fixture(mine, sf_dir)
        assert n_docs == _t(mine, sf_dir, "documents").count() > 0
        assert boiler.count() == 2 * n_docs

    def test_same_session_builds_once(self, spark):
        from qdrant_datafusion_spark.session import shared_build

        session, calls = spark.newSession(), []

        def build(pin):
            calls.append(1)
            return len(calls)

        assert shared_build(session, "k", build) == 1
        assert shared_build(session, "k", build) == 1
        assert calls == [1]

    def test_session_change_releases_the_old_pins(self, spark, sf_dir):
        from qdrant_datafusion_spark.entry_queries.dedup import _doc_minhash_buckets
        from qdrant_datafusion_spark.entry_queries.vector import _knn_table

        def pinned_rdds(session):
            tables = (_doc_minhash_buckets, _knn_table)
            return {t(session, sf_dir)._jdf.logicalPlan().rdd().id() for t in tables}

        first = pinned_rdds(spark.newSession())
        second = pinned_rdds(spark.newSession())
        persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        assert len(first | second) == 4
        assert (first | second) & persisted == second

    def test_results_survive_session_switches(self, spark, sf_dir):
        from qdrant_datafusion_spark.entry_queries.dedup import dedup_minhash

        def rows(session):
            return sorted(dedup_minhash(session, sf_dir).collect())

        before = rows(spark)
        assert before
        assert rows(spark.newSession()) == before
        assert rows(spark) == before
