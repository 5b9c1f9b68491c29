"""Dense-vector distance kernels — pure native Column expressions.

These realize the reference's planned ``V_SEARCH`` / ``V_DISTANCE`` /
``V_WITHIN`` UDF surface (reference tests/bin/tests.sql:10-51) with
JVM-side higher-order functions (``zip_with`` + ``aggregate``): no Python
boundary at all.  Higher-order functions are ``CodegenFallback``, so the
scoring ``Project`` runs interpreted, outside every WholeStageCodegen
stage; what keeps it cheap is doing no query-invariant work per row (see
:data:`KERNELS`).  A NULL vector yields a NULL score, never an error,
matching the reference's all-vector-columns-nullable schema rule
(src/arrow/schema.rs:44,50) and the e2e mostly-null-column behavior
(tests/e2e.rs:311-320).

Metrics mirror Qdrant's configured distances (Cosine / Dot / Euclid, plus
Manhattan) — collection-configured per field (reference tests/e2e.rs:127-148);
``v_search`` accepts an explicit metric or a CollectionDescriptor lookup.

Scale note: each kernel is O(dim) per row, fully distributed, no shuffle.
Top-k over a scored column compiles to TakeOrderedAndProject (no global
sort materialization) — verified in tests/test_plans.py.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str
VectorLike = "Column | Sequence[float] | str"

#: The one sequential fold every kernel sums through: the ``zip_with``
#: element terms added left to right into a DOUBLE accumulator.  A length
#: mismatch pads with NULL, so the sum (and the score) is NULL.
FOLD = (
    "aggregate(zip_with({v}, {q}, (x, y) -> {term}), "
    "CAST(0.0 AS DOUBLE), (a, t) -> a + t)"
)

# multiply in double, not float32: float32 products carry ~1e-8 relative
# error, enough to flip rounded values against a double-precision oracle
_X, _Y = "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)"
_PROD = f"{_X} * {_Y}"

#: metric -> (element term, what the summed terms ``{s}`` become, higher
#: is better).  The kernel text of every score in the engine: the Column
#: API (:func:`v_search` and friends, ``sparse.v_sparse_search``), the
#: corpus SQL resolver (``sql_dialect``) and the registered ``V_SEARCH``
#: / ``V_DISTANCE`` / ``V_WITHIN`` bodies (``registry``) all render from
#: this table, so every path folds in the same order and agrees bit for
#: bit.  Cosine takes the norms as ``{vn}`` / ``{qn}``: a literal's norm
#: is folded once in Python (:func:`literal_norm`), a hoisted norm is a
#: column, anything else is the :func:`norm_sql` fold.  try_divide: a
#: zero vector yields NULL, not an ANSI divide-by-zero error.  The sparse
#: dot folds a row's indices (``{v}``) and values (``{q}``) against a
#: literal query map ``{m}``.
KERNELS = {
    "cosine": (_PROD, "try_divide({s}, {vn} * {qn})", True),
    "dot": (_PROD, "{s}", True),
    "euclid": (f"({_X} - {_Y}) * ({_X} - {_Y})", "sqrt({s})", False),
    "manhattan": (f"abs({_X} - {_Y})", "{s}", False),
    "sparse": (
        f"coalesce(element_at({{m}}, CAST(x AS BIGINT)), CAST(0.0 AS DOUBLE)) * {_Y}",
        "{s}",
        True,
    ),
}
DENSE_METRICS = ("cosine", "dot", "euclid", "manhattan")


def norm_sql(v: str) -> str:
    """L2 norm of the vector expression ``v`` as SQL text."""
    return "sqrt(" + FOLD.format(v=v, q=v, term=_PROD) + ")"


def kernel_sql(
    metric: str,
    v: str,
    q: str,
    vn: str | None = None,
    qn: str | None = None,
    m: str | None = None,
) -> str:
    """The raw kernel (cosine similarity, dot, euclid or manhattan
    distance, sparse dot) as SQL text; ``vn`` / ``qn`` are the norms
    when already known, ``m`` the sparse query map."""
    term, finish, _higher = KERNELS[metric]
    return finish.format(
        s=FOLD.format(v=v, q=q, term=term.format(m=m)),
        vn=vn if vn is not None else norm_sql(v),
        qn=qn if qn is not None else norm_sql(q),
    )


def score_sql(metric: str, v: str, q: str, **norms) -> str:
    """Higher-is-better score text: distance metrics are negated."""
    k = kernel_sql(metric, v, q, **norms)
    return k if KERNELS[metric][2] else f"(-{k})"


def distance_sql(metric: str, v: str, q: str, **norms) -> str:
    """Lower-is-closer distance text: cosine is 1 - similarity, dot is
    negated."""
    k = kernel_sql(metric, v, q, **norms)
    if metric == "cosine":
        return f"(1.0D - {k})"
    return f"(-{k})" if metric == "dot" else k


def double_sql(x: float) -> str:
    """A float as a DOUBLE literal Spark reads back bit for bit: the
    shortest ``repr`` goes through ``Double.parseDouble``; NaN and the
    infinities through a string cast."""
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"


def literal_norm(xs: Sequence[float]) -> float:
    """:func:`norm_sql` folded in Python: the same sequential
    ``acc + x*x`` adds and a correctly rounded sqrt, so bit-identical to
    the fold Spark would run on every row (Catalyst does not constant-fold
    higher-order functions)."""
    acc = 0.0
    for x in xs:
        acc = acc + x * x
    return math.sqrt(acc)


def literal_sql(v) -> tuple[str, str]:
    """(ARRAY<DOUBLE> constant, folded norm as a DOUBLE literal) of a
    literal vector."""
    xs = [float(x) for x in v]
    return "array(" + ", ".join(map(double_sql, xs)) + ")", double_sql(literal_norm(xs))


def column_sql(name: str) -> str:
    """A column name as SQL text that resolves like ``F.col(name)``:
    dot-separated parts, each backtick-quoted unless the name quotes
    itself."""
    if "`" in name:
        return name
    return ".".join(f"`{p}`" for p in name.split("."))


def _operand(v) -> tuple[str | None, str | None]:
    """(SQL text, folded norm literal) of a vector argument: a column
    name has text only, a literal both, and a Column neither."""
    if isinstance(v, Column):
        return None, None
    if isinstance(v, str):
        return column_sql(v), None
    return literal_sql(v)


def _as_col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _d(c: Column) -> Column:
    return c.cast("double")


#: the element terms of :data:`KERNELS` over Columns, for the lambda
#: builder
_TERM_COLS = {
    "cosine": lambda x, y: _d(x) * _d(y),
    "dot": lambda x, y: _d(x) * _d(y),
    "euclid": lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y)),
    "manhattan": lambda x, y: F.abs(_d(x) - _d(y)),
}


def _fold_col(v: Column, q: Column, term) -> Column:
    """:data:`FOLD` built from Columns — the lambda builder for
    arguments that only exist as Columns."""
    return F.aggregate(F.zip_with(v, q, term), F.lit(0.0), lambda a, t: a + t)


def _kernel(metric: str, v: VectorLike, q: VectorLike) -> Column:
    """The raw dense kernel as a Column.  When both vectors are column
    names or literals it is ONE ``F.expr`` over the :data:`KERNELS`
    text; when either is a Column the lambda builder assembles the same
    fold.  Either way a literal's norm is folded in Python."""
    if metric not in DENSE_METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    (sv, nv), (sq, nq) = _operand(v), _operand(q)
    if sv is not None and sq is not None:
        return F.expr(kernel_sql(metric, sv, sq, vn=nv, qn=nq))
    vc = F.expr(sv) if sv is not None else v
    qc = F.expr(sq) if sq is not None else q
    s = _fold_col(vc, qc, _TERM_COLS[metric])
    if metric == "cosine":
        return F.try_divide(s, _norm_col(vc, nv) * _norm_col(qc, nq))
    return F.sqrt(s) if metric == "euclid" else s


def _norm_col(vec: Column, folded: str | None) -> Column:
    if folded is not None:
        return F.expr(folded)
    return F.sqrt(_fold_col(vec, vec, _TERM_COLS["dot"]))


def dot_product(v: VectorLike, q: VectorLike) -> Column:
    """Elementwise dot product of two array<float> columns/literals."""
    return _kernel("dot", v, q)


def norm(v: VectorLike) -> Column:
    """L2 norm."""
    text, folded = _operand(v)
    if text is None:
        return _norm_col(v, None)
    return F.expr(folded if folded is not None else norm_sql(text))


def cosine_similarity(v: VectorLike, q: VectorLike) -> Column:
    return _kernel("cosine", v, q)


def euclid_distance(v: VectorLike, q: VectorLike) -> Column:
    return _kernel("euclid", v, q)


def manhattan_distance(v: VectorLike, q: VectorLike) -> Column:
    return _kernel("manhattan", v, q)


def v_search(
    vector: VectorLike,
    query: VectorLike,
    metric: str = "cosine",
    descriptor=None,
    field: str | None = None,
) -> Column:
    """Similarity *score* of each row's vector against a query vector —
    the reference's ``V_SEARCH`` (tests/bin/tests.sql:10-35).

    Scores follow Qdrant convention: higher is better for every metric, so
    distance metrics are negated (``ORDER BY score DESC LIMIT k`` is always
    the top-k idiom).  If ``descriptor`` is given the metric comes from the
    collection config for ``field`` (reference behavior: metric is
    collection-configured, tests/e2e.rs:127-148).
    """
    if descriptor is not None:
        metric = descriptor.metric_for(field)
    k = _kernel(metric, vector, query)
    return k if KERNELS[metric][2] else -k


def v_distance(vector: VectorLike, query: VectorLike, metric: str = "cosine") -> Column:
    """Explicit-metric *distance* (lower = closer) — ``V_DISTANCE``
    (tests/bin/tests.sql:42-45).  For cosine this is 1 - similarity."""
    k = _kernel(metric, vector, query)
    if metric == "cosine":
        return F.lit(1.0) - k
    return -k if metric == "dot" else k


def v_within(
    vector: VectorLike, query: VectorLike, radius: float, metric: str = "euclid"
) -> Column:
    """Radius predicate — ``V_WITHIN`` (tests/bin/tests.sql:48-51)."""
    return v_distance(vector, query, metric) < F.lit(float(radius))


def v_random(seed: int | None = None) -> Column:
    """Random ordering value — ``V_RANDOM`` (tests/bin/tests.sql:310-320).
    ``df.orderBy(v_random(42)).limit(n)`` gives deterministic sampling."""
    return F.rand(seed) if seed is not None else F.rand()
