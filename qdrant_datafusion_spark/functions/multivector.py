"""Multi-vector (late interaction / ColBERT) kernel — ``V_COLBERT``
(reference tests/bin/tests.sql:157-168).

A multi-vector column is ``array<array<float>>`` (reference
src/arrow/schema.rs:36-45, gated on ``multivector_config``); rows may carry
a ragged number of sub-vectors (reference e2e fixture has a 2x2,
tests/e2e.rs:172-175).

MaxSim(doc, Q) = Σ_{q∈Q} max_{d∈doc} (q·d) — the Qdrant multi-vector
comparator, rendered from ``functions.distance.MAXSIM`` as native nested
HOFs (aggregate + transform + array_max + dot), so it runs JVM-side with
no Python boundary and handles ragged docs naturally.  NULL doc → NULL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import column_sql, literal_sql, maxsim_sql


def v_colbert(
    multi_vector: str,
    query_multi: Sequence[Sequence[float]],
    normalize: bool = False,
) -> Column:
    """MaxSim late-interaction score of a multi-vector column (by name)
    against a literal query multi-vector.

    ``normalize=True`` divides by the number of query sub-vectors (mean of
    max-sims), useful when query lengths vary across calls.
    """
    if not query_multi:
        raise ValueError("query_multi must contain at least one sub-vector")
    q = "array(" + ", ".join(literal_sql(qv)[0] for qv in query_multi) + ")"
    total = F.expr(maxsim_sql(column_sql(multi_vector), q))
    if normalize:
        total = total / F.lit(float(len(query_multi)))
    return total
