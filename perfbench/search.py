"""``search``: the query path of the paper over one generated collection.

A seeded sequence of request shapes runs in a closed loop with one client.
Five shapes score vectors in the JVM: DataFrame ``top_k``, payload-filtered
``top_k``, the same top-k as corpus SQL, ``batch_search`` of several
queries, and hybrid dense+sparse ``rrf_fuse``.  Two shapes go through the
connector seam with no scoring (see ``connector.py``): a pushdown scan of
the collection directory through the ``qdrant_collection`` data source,
and a QueryPoints fetch of the same points from the fake Qdrant server.
``streaming`` stays idle.
"""

from __future__ import annotations

import contextlib

import numpy as np
from pyspark.sql import types as T

import connector
import gen
import oracle
from common import force_plan, median, now, plan_nodes, rows_examined, scan_partitions, scan_rows
from qdrant_datafusion_spark.collections import (
    CollectionCatalog,
    CollectionDescriptor,
    VectorField,
)
from qdrant_datafusion_spark.functions import json_fns, registry
from qdrant_datafusion_spark.functions.distance import v_search
from qdrant_datafusion_spark.functions.fusion import rrf_fuse
from qdrant_datafusion_spark.functions.sparse import v_sparse_search
from qdrant_datafusion_spark.operators import batch_search, top_k
from qdrant_datafusion_spark.sources import register_collection_source
from qdrant_datafusion_spark.sql_dialect import corpus_sql

POINTS = 3000
FRAGMENTS = 8
K = 10
BATCH_QUERIES = 4
RRF_BRANCH = 50
SCORING = ("topk", "filtered", "sql", "batch", "hybrid")
SEAM = ("scan", "fetch")
SHAPES = SCORING + SEAM
WARMUP_ROUNDS = 1

DESCRIPTOR = CollectionDescriptor(
    name="points",
    fields=(
        VectorField("dense", gen.DIM, "cosine"),
        VectorField("sp", 0, "dot", kind="sparse"),
    ),
)
#: what a fetch asks the server for: the columns the served points carry
FETCH_SCHEMA = T.StructType(
    [f for f in DESCRIPTOR.schema().fields if f.name in ("id", "payload", "dense")]
)


class Search:
    #: nominal length of a round (every shape once) with a 2-core session
    ROUND_S = 6.0

    def __init__(self, seed: int, spark, tracer, dirs):
        self.spark, self.tracer, self.dirs = spark, tracer, dirs
        self.rng = np.random.default_rng(seed + 1)
        self.points = gen.Points(seed, POINTS)
        self.sparse = self.points.sparse_matrix()
        self.staging = dirs.path("staging", "points.parquet")
        self.points.write_parquet(self.staging)
        self.server = None
        self.requests = 0
        self.shape_of: dict[int, str] = {}
        self.scan_tasks: list[int] = []
        self.examined = self.returned = 0
        self.pushdown: list[float] = []
        self.serve_s: list[float] = []

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        with self.tracer.span("functions.register"):
            registry.register_all(self.spark)
        register_collection_source(self.spark)
        self.server = connector.FakeServer()
        with self.tracer.span("collections.write"):
            root = self.dirs.fresh("collections")
            catalog = CollectionCatalog(self.spark, root)
            catalog.write(
                DESCRIPTOR, self.spark.read.parquet(self.staging), partitions=FRAGMENTS
            )
            self.coll = catalog.register(DESCRIPTOR.name)
            self.path = f"{root}/{DESCRIPTOR.name}"
        with self.tracer.span("fake_server.load"):
            self.server.load(self.points)

    def warmup(self) -> None:
        for _ in range(WARMUP_ROUNDS):
            for shape in SHAPES:
                self.request(shape, traced=False)

    def round(self, traced: bool):
        """Every shape once, in a seeded order; op tuples
        (shape, latency s, queries, ok, trace-only s, wall s)."""
        ops = []
        with connector.traced_decode(self.tracer) if traced else contextlib.nullcontext():
            for shape in self.rng.permutation(SHAPES):
                latency, items, ok, extra = self.request(str(shape), traced)
                ops.append((str(shape), latency, items, ok, extra, latency))
        return ops

    def close(self) -> None:
        if self.server is not None:
            self.server.close()

    # -- requests ---------------------------------------------------------

    def _query(self) -> np.ndarray:
        return self.rng.standard_normal(gen.DIM)

    def _build(self, shape: str):
        """(DataFrame, queries answered, checker of the collected rows)."""
        span = self.tracer.span
        if shape == "topk":
            q = self._query()
            with span("operators.build"):
                df = top_k(self.coll, "dense", q.tolist(), K)
            return df, 1, lambda rows: self._check_dense(rows, q, None)
        if shape == "filtered":
            q, cat = self._query(), f"c{int(self.rng.integers(0, gen.CATEGORIES))}"
            with span("operators.build"):
                df = top_k(
                    self.coll.filter(json_fns.payload_get("payload", "cat") == cat),
                    "dense",
                    q.tolist(),
                    K,
                )
            return df, 1, lambda rows: self._check_dense(rows, q, cat)
        if shape == "sql":
            q = self._query()
            text = (
                "SELECT id, V_SEARCH('dense', ["
                + ", ".join(repr(float(x)) for x in q)
                + f"]) AS score FROM points ORDER BY score DESC LIMIT {K}"
            )
            with span("sql_dialect.resolve"):
                resolved = corpus_sql(text, DESCRIPTOR, view="points")
            with span("operators.build"):
                df = self.spark.sql(resolved)
            return df, 1, lambda rows: self._check_dense(rows, q, None)
        if shape == "batch":
            qs = [self._query() for _ in range(BATCH_QUERIES)]
            with span("operators.build"):
                queries = self.spark.createDataFrame(
                    [(i, q.tolist()) for i, q in enumerate(qs)],
                    "query_id int, query_vec array<double>",
                )
                df = batch_search(self.coll, queries, "dense", K)
            return df, BATCH_QUERIES, lambda rows: self._check_batch(rows, qs)
        if shape == "hybrid":
            q = self._query()
            qi, qv = gen.sparse_vector(self.rng)
            with span("operators.build"):
                dense = self.coll.select("id", v_search("dense", q.tolist()).alias("score"))
                sparse = self.coll.select(
                    "id",
                    v_sparse_search(
                        "sp_indices", "sp_values", [(int(i), float(v)) for i, v in zip(qi, qv)]
                    ).alias("score"),
                )
                df = rrf_fuse([dense, sparse], per_branch_limit=RRF_BRANCH).limit(K)
            return df, 1, lambda rows: self._check_hybrid(rows, q, qi, qv)
        if shape == "scan":
            df, check = connector.pushdown_request(
                self.spark, self.tracer, self.path, self.rng, POINTS
            )
        else:
            df, check = connector.fetch_request(
                self.spark, self.tracer, self.server, FETCH_SCHEMA, self.rng
            )
        return df, 1, lambda rows: check(self.points, rows)

    def request(self, shape: str, traced: bool):
        """Run one request; returns (latency s, items, ok, trace-only s)."""
        span = self.tracer.span
        self.requests += 1
        self.tracer.request = self.requests
        self.shape_of[self.requests] = shape
        serve0 = self.server.cpu_s() if traced and shape == "fetch" else 0.0
        t0 = now()
        df, items, check = self._build(shape)
        if traced:
            with span("engine.plan"):
                force_plan(df._jdf)
        with span("engine.exec"):
            rows = [tuple(r) for r in df.collect()]
        latency = now() - t0
        extra = 0.0
        if traced:
            t1 = now()
            if shape == "fetch":
                self.serve_s.append(self.server.cpu_s() - serve0)
            nodes = plan_nodes(df._jdf)
            if shape == "scan":
                self.pushdown.append(scan_rows(nodes) / POINTS)
            elif shape in SCORING:
                self.scan_tasks.extend(scan_partitions(nodes))
                self.examined += rows_examined(nodes)
                self.returned += len(rows)
            extra = now() - t1
        return latency, items, check(rows), extra

    # -- checks -----------------------------------------------------------

    def _full_ranking(self, scores: np.ndarray, mask: np.ndarray | None, top: int):
        ids = self.points.ids
        idx = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
        keep = min(len(idx), top + 32)
        if keep < len(idx):
            idx = idx[np.argpartition(-scores[idx], keep - 1)[:keep]]
        return oracle.ranking([ids[i] for i in idx], scores[idx])

    def _check_dense(self, rows, q, cat) -> bool:
        scores = oracle.cosine_scores(self.points.dense, q)
        mask = None
        if cat is not None:
            mask = np.array([p["cat"] == cat for p in self.points.payload])
        full = self._full_ranking(scores, mask, K)
        return oracle.same_topk([(r[0], r[1]) for r in rows], full, K)

    def _check_batch(self, rows, qs) -> bool:
        by_q: dict[int, list] = {i: [] for i in range(len(qs))}
        for qid, pid, score in rows:
            if qid not in by_q:
                return False
            by_q[qid].append((pid, score))
        return all(
            oracle.same_topk(
                by_q[i],
                self._full_ranking(oracle.cosine_scores(self.points.dense, q), None, K),
                K,
            )
            for i, q in enumerate(qs)
        )

    def _check_hybrid(self, rows, q, qi, qv) -> bool:
        qsp = np.zeros(gen.SPARSE_DIM)
        qsp[qi] = qv.astype(np.float64)
        dense = self._full_ranking(oracle.cosine_scores(self.points.dense, q), None, RRF_BRANCH)
        sparse = self._full_ranking(self.sparse @ qsp, None, RRF_BRANCH)
        fused = oracle.rrf([dense, sparse], RRF_BRANCH)
        return oracle.same_topk([(r[0], r[1]) for r in rows], fused, K, tol=1e-9)

    # -- per-layer --------------------------------------------------------

    def layers(self, traced_ops) -> dict[str, float]:
        spans = self.tracer.spans

        def ms(name, shapes=SHAPES):
            return [
                (s[2] - s[1]) * 1e3
                for s in spans
                if s[0] == name and s[2] is not None and self.shape_of.get(s[4]) in shapes
            ]

        ds_plan: dict[int, float] = {}  # load() + Catalyst planning, per scan
        to_df: dict[int, float] = {}  # points_to_dataframe minus its decode
        for name, start, end, _, req in spans:
            if name in ("sources.load", "engine.plan") and self.shape_of.get(req) == "scan":
                ds_plan[req] = ds_plan.get(req, 0.0) + (end - start) * 1e3
            if name in ("sources.to_df", "sources.decode"):
                sign = 1.0 if name == "sources.to_df" else -1.0
                to_df[req] = to_df.get(req, 0.0) + sign * (end - start) * 1e3
        return {
            "collections.write_s": self.tracer.total("collections.write"),
            "functions.register_s": self.tracer.total("functions.register"),
            "operators.build_ms": median(ms("operators.build")),
            "sql_dialect.resolve_ms": median(ms("sql_dialect.resolve")),
            "engine.plan_ms": median(ms("engine.plan", SCORING)),
            "engine.exec_ms": median(ms("engine.exec", SCORING)),
            "engine.scan_tasks": median(self.scan_tasks),
            "engine.rows_scored_per_result": self.examined / max(1, self.returned),
            **{
                f"shape.{s}_p50_ms": median(o[3] for o in traced_ops if o[2] == s) * 1e3
                for s in SHAPES
            },
            "sources.ds_plan_ms": median(ds_plan.values()),
            "sources.ds_read_ms": median(ms("engine.exec", ("scan",))),
            "sources.request_ms": median(ms("sources.request")),
            "sources.fetch_ms": median(ms("sources.fetch")),
            "sources.decode_ms": median(ms("sources.decode")),
            "sources.to_df_ms": median(to_df.values()),
            "fake_server.serve_ms": median(self.serve_s) * 1e3,
            "sources.pushdown_ratio": median(self.pushdown),
        }
