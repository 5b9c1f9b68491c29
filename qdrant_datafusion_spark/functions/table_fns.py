"""Spark-4 Python UDTF surface (SURVEY §2.10): table-valued search.

``V_SEARCH_TABLE(TABLE(...), query_json, k)`` is the table-function form
of the V_SEARCH scalar surface (reference ``tests/bin/tests.sql:10-13``) —
it scans the embeddings relation passed as a TABLE argument and returns
the per-partition cosine top-k as ``(vec_id, score)`` rows.

Shape (the standard two-phase distributed top-k, NOT the naive
``WITH SINGLE PARTITION`` UDTF pattern):

1. each task's UDTF instance keeps a bounded k-heap over its partition
   and emits its <= k local winners from ``terminate()`` — so the UDTF
   output is at most ``n_partitions * k`` rows regardless of data size;
2. the caller finishes with ``ORDER BY score DESC, vec_id LIMIT k`` over
   that tiny set (Spark plans it as TakeOrderedAndProject).

The in-heap ordering key is the ROUND-6 score (ties broken by smaller
``vec_id``), the same total order the gate's DuckDB oracle sorts by, so
local eviction can never disagree with the global refine at a rounded
tie boundary.

Numeric contract: the score is computed with the SAME sequential
left-fold summation order as the scalar kernel
(``functions/distance.py`` ``FOLD`` = ``aggregate(zip_with(v, q, *),
0.0, a + t)``) — a plain element-order Python loop, NOT numpy BLAS
dot (pairwise summation reorders the adds and can differ in the last
ulp) — and rounded with decimal HALF_UP exactly as Spark's
``round(double, 6)`` does (``BigDecimal.valueOf(x).setScale(6,
HALF_UP)``; Python's builtin ``round`` is half-even and disagrees on
exact .5e-6 boundaries).  So the UDTF path and the native
``v_search_topk`` path agree bit-for-bit, not merely within round-6
absorption.

The reference exposes no table functions (SURVEY §2.10: none); this
demonstrates the Spark-native UDTF registration hook.  The scalar-kernel
top-k (``v_search_topk``) stays the production path at 100 TB — it is
fully JVM-side, while a Python UDTF pays one Arrow-batched Python worker
pass over the corpus.
"""

from __future__ import annotations

import json
from decimal import ROUND_HALF_UP, Decimal
from math import sqrt

#: DDL return schema for registration (kept next to the class so the
#: registry and tests cannot drift)
V_SEARCH_TABLE_SCHEMA = "vec_id bigint, score double"

_SIX = Decimal("0.000001")


def _round6_half_up(x: float) -> float:
    """Spark's round(double, 6): shortest-decimal repr, then HALF_UP.

    ``BigDecimal.valueOf(x)`` goes through ``Double.toString`` (shortest
    round-trip decimal); Python's ``repr(float)`` is the same shortest
    representation, and ``Decimal`` parses its exponent forms.
    """
    return float(Decimal(repr(x)).quantize(_SIX, rounding=ROUND_HALF_UP))


def _fold_dot(a, b) -> float:
    """Sequential left-fold dot product, matching the scalar kernel's
    ``F.aggregate(zip_with(a, b, *), 0.0, acc + x)`` summation order."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


class VSearchTable:
    """Per-partition cosine top-k over a TABLE argument.

    ``eval(row, query_json, k)`` — ``row`` must expose ``vec_id`` and
    ``embedding array<double>`` (NULL embeddings are skipped, matching
    the ``WHERE embedding IS NOT NULL`` of every embeddings oracle);
    ``query_json`` is the JSON-encoded query vector (a foldable scalar
    argument); ``k`` the per-partition keep count.
    """

    def __init__(self) -> None:
        self._q: list[float] | None = None
        self._qn: float = 0.0
        self._k: int = 0
        # min-heap on (round6 score, -vec_id): the root is the WORST of
        # the kept k under the (score desc, vec_id asc) total order
        self._heap: list[tuple[float, int, int]] = []

    def eval(self, row, query_json: str, k: int) -> None:
        if self._q is None:
            self._q = [float(x) for x in json.loads(query_json)]
            self._qn = sqrt(_fold_dot(self._q, self._q))
            self._k = int(k)
        emb = row["embedding"]
        if emb is None:
            return
        denom = sqrt(_fold_dot(emb, emb)) * self._qn
        if denom == 0.0:
            return  # zero vector: cosine undefined (scalar kernel -> NULL)
        score = _round6_half_up(_fold_dot(emb, self._q) / denom)
        import heapq

        item = (score, -int(row["vec_id"]), int(row["vec_id"]))
        if len(self._heap) < self._k:
            heapq.heappush(self._heap, item)
        elif item > self._heap[0]:
            heapq.heapreplace(self._heap, item)

    def terminate(self):
        for score, _, vec_id in self._heap:
            yield vec_id, score
