"""Multi-vector (late interaction / ColBERT) kernel — ``V_COLBERT``
(reference tests/bin/tests.sql:157-168).

A multi-vector column is ``array<array<float>>`` (reference
src/arrow/schema.rs:36-45, gated on ``multivector_config``); rows may carry
a ragged number of sub-vectors (reference e2e fixture has a 2x2,
tests/e2e.rs:172-175).

MaxSim(doc, Q) = Σ_{q∈Q} max_{d∈doc} (q·d) — the Qdrant multi-vector
comparator.  With a *literal* query the kernel unrolls per query sub-vector
into native nested HOFs (transform + array_max + dot), so it runs JVM-side
with no Python boundary and handles ragged docs naturally.  NULL doc → NULL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import dot_product


def v_colbert(
    multi_vector: Column | str,
    query_multi: Sequence[Sequence[float]],
    normalize: bool = False,
) -> Column:
    """MaxSim late-interaction score of a multi-vector column against a
    literal query multi-vector.

    ``normalize=True`` divides by the number of query sub-vectors (mean of
    max-sims), useful when query lengths vary across calls.
    """
    mv = F.col(multi_vector) if isinstance(multi_vector, str) else multi_vector
    if not query_multi:
        raise ValueError("query_multi must contain at least one sub-vector")
    def max_sim_for(q: Sequence[float]) -> Column:
        # single-arg lambda: a 2-arg lambda would make transform pass the
        # element *index* as the second argument
        return F.array_max(F.transform(mv, lambda d: dot_product(d, q)))

    per_query = [max_sim_for(q) for q in query_multi]
    total = per_query[0]
    for col in per_query[1:]:
        total = total + col
    if normalize:
        total = total / F.lit(float(len(query_multi)))
    return total
