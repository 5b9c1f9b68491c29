"""The connector seam, as the ``search`` workload drives it.

Two request shapes go through the reference's own surface, with no vector
scoring:

- ``scan``: a projection + filter + limit pushdown scan of the collection
  directory through the ``qdrant_collection`` Python data source;
- ``fetch``: a QueryPoints fetch from the fake Qdrant server, running in a
  process of its own: ``build_query_request`` →
  ``QdrantRestClient.query_points`` → ``wire.points_to_dataframe``, then an
  action that consumes every column.

Both go through Python workers, Arrow, HTTP and JSON rather than scoring.
"""

from __future__ import annotations

import contextlib
import json
import subprocess
import sys
import urllib.request

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

import gen
import oracle
from common import HERE, proc_cpu_s
from qdrant_datafusion_spark.sources import wire
from qdrant_datafusion_spark.sources.client import QdrantRestClient
from qdrant_datafusion_spark.sources.request import build_query_request

PUSHDOWN_LIMIT = 300
FETCH_LIMIT = 800
PRICE_WINDOW = 40.0
UPSERT_CHUNK = 1000
SERVED = "served"
CHECKSUM_COLUMNS = ("rows", "id", "payload", "vector")


def vector_sum(col: str):
    return F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double"))


def checksum_action(df):
    """One aggregate over every column: row count and per-column checksums
    (Σ crc32(id), Σ crc32(payload), Σ of vector elements)."""
    return df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.crc32("id")), F.lit(0)),
        F.coalesce(F.sum(F.crc32("payload")), F.lit(0)),
        F.coalesce(F.sum(vector_sum("dense")), F.lit(0.0)),
    )


def _put(url: str, body: dict) -> None:
    req = urllib.request.Request(
        url,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="PUT",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        resp.read()


class FakeServer:
    """``test_utils.FakeQdrantServer`` in a child process (``server.py``)."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, f"{HERE}/server.py"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            self.close()
            raise RuntimeError("fake server did not start")
        self.client = QdrantRestClient(self.url)

    def load(self, points: gen.Points) -> None:
        """(Re)create the served collection and upsert every point."""
        base = f"{self.url}/collections/{SERVED}"
        _put(base, {"vectors": {"dense": {"size": gen.DIM, "distance": "Cosine"}}})
        rest = points.rest_points()
        for i in range(0, len(rest), UPSERT_CHUNK):
            _put(f"{base}/points", {"points": rest[i : i + UPSERT_CHUNK]})

    def cpu_s(self) -> float:
        return proc_cpu_s(self.proc.pid)

    def close(self) -> None:
        with contextlib.suppress(OSError):
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)


@contextlib.contextmanager
def traced_decode(tracer):
    """Time ``wire.points_to_rows`` inside ``points_to_dataframe`` (which
    looks it up at call time), so decode and createDataFrame split."""
    original = wire.points_to_rows

    def points_to_rows(points, schema):
        with tracer.span("sources.decode"):
            return original(points, schema)

    wire.points_to_rows = points_to_rows
    try:
        yield
    finally:
        wire.points_to_rows = original


# -- request shapes ----------------------------------------------------------


def pushdown_request(spark, tracer, path: str, rng: np.random.Generator, n_points: int):
    """(DataFrame, checker) of one pushdown scan: columns ``id,dense``, an
    ``id`` prefix filter the source accepts, and a limit."""
    prefix = f"p{int(rng.integers(0, n_points // 1000)):03d}"
    with tracer.span("sources.load"):
        scan = (
            spark.read.format("qdrant_collection")
            .option("path", path)
            .option("columns", "id,dense")
            .option("limit", str(PUSHDOWN_LIMIT))
            .load()
        )
    df = scan.filter(F.col("id").startswith(prefix)).limit(PUSHDOWN_LIMIT)
    out = df.select("id", vector_sum("dense"))
    return out, lambda pts, rows: df.columns == ["id", "dense"] and _check_pushdown(
        pts, rows, prefix
    )


def _check_pushdown(points: gen.Points, rows, prefix: str) -> bool:
    index = {pid: i for i, pid in enumerate(points.ids) if pid.startswith(prefix)}
    if len(rows) != min(PUSHDOWN_LIMIT, len(index)) or len({r[0] for r in rows}) != len(rows):
        return False
    for pid, vsum in rows:
        if pid not in index:
            return False
        if abs(vsum - float(points.dense[index[pid]].astype(np.float64).sum())) > 1e-9:
            return False
    return True


def fetch_request(spark, tracer, server: FakeServer, schema, rng: np.random.Generator):
    """(DataFrame, checker) of one fetch: a payload price-range filter the
    request carries to the server, and a limit."""
    span = tracer.span
    lo = float(np.round(rng.uniform(0.0, 100.0 - PRICE_WINDOW), 2))
    hi = lo + PRICE_WINDOW
    with span("sources.request"):
        request, rejected = build_query_request(
            SERVED,
            schema,
            limit=FETCH_LIMIT,
            filters=[GreaterThanOrEqual(("payload", "price"), lo), LessThan(("payload", "price"), hi)],
        )
    with span("sources.fetch"):
        points = server.client.query_points(request)
    with span("sources.to_df"):
        df = wire.points_to_dataframe(spark, points, schema)
    return checksum_action(df), lambda pts, rows: not rejected and _check_fetch(pts, rows, lo, hi)


def _check_fetch(points: gen.Points, rows, lo: float, hi: float) -> bool:
    picked = [i for i, p in enumerate(points.payload) if lo <= p["price"] < hi][:FETCH_LIMIT]
    want = oracle.checksums(
        [str(i) for i in picked],
        [points.payload_json[i] for i in picked],
        points.dense[picked],
    )
    return oracle.same_checksums(dict(zip(CHECKSUM_COLUMNS, rows[0])), want)
