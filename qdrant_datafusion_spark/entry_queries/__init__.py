"""The gate inventory behind ``__spark_entry__``: every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions) as a
(spark_query, duckdb_oracle_sql) pair over the fixture parquet tables.

Each family module binds its gates with ``@gate("key", oracle=SQL)``
(:mod:`._common`); importing this package imports every family, so
:data:`QUERIES` and :data:`ORACLES` hold the full inventory.

Determinism rules (results are hash-compared against the oracle):
- every float output is ``round(x, N)`` on BOTH sides (money sums N=2,
  unit-scale scores N=6) — identical decimal → identical double bits;
- every top-k orders by (score, id) so ties cannot reorder row *sets*;
- timestamps are formatted to strings (Spark session TZ is UTC, DuckDB is
  naive — strings remove the ambiguity);
- aggregate/computed columns carry the same alias in both engines.
"""

from __future__ import annotations

from . import (  # noqa: F401  (importing a family registers its gates)
    dedup,
    events,
    graph,
    multimodal,
    pipeline,
    relational,
    sketch,
    streaming,
    text,
    vector,
)
from ._common import ORACLES, QUERIES

# names __spark_entry__.entry and bench.py import from the package itself
from .vector import EMB_LSH_P, EMB_LSH_TABLES, v_fusion_hybrid  # noqa: F401

# These lead the registry order, for a correctness run that records only
# its first 50 rows: the newest gates, then those whose recorded evidence
# is oldest.  Every gate passes its oracle whatever its slot.
_RUN_FIRST = (
    "dedup_embedding_brp", "text_quality_pipeline_ml",
    "pipeline_group_split", "dedup_source_overlap",
    "q_range_bucket_join", "streaming_dedup_bounded",
    "layout_zorder_prune", "layout_zvalue", "pipeline_fd_audit",
    "pipeline_k_anonymity", "pipeline_pack_bpe", "pipeline_profile",
    "pipeline_quantile_normalize", "pipeline_source_cap",
    "pipeline_validate", "pipeline_weighted_sample",
    "q10_returned_items", "q_bloom_anti_join", "q_bloom_semi_join",
    "q_events_anomalies", "q_events_resample", "q_events_rolling",
    "sketch_cms_error", "sketch_cms_heavy_hitters",
    "sketch_drift_report", "sketch_hist_quantiles", "sketch_join_size",
    "sketch_kmv_distinct", "sketch_kmv_groups", "sketch_kmv_jaccard",
    "skew_hot_keys", "streaming_heavy_hitters",
    "streaming_hist_quantiles", "streaming_interval_join",
    "text_bpe_encode", "text_bpe_vocab", "text_decontaminate_semantic",
    "text_pmi_phrases", "text_unigram_encode", "text_unigram_vocab",
    "text_unigram_vocab_mb", "v_search_matryoshka",
    "ann_hard_negatives", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_knn_graph_blocked", "cdc_apply_changes",
    "cdc_scd2_apply_changes", "cdc_table_diff", "dedup_containment",
)
assert len(set(_RUN_FIRST)) == len(_RUN_FIRST) == 50, len(_RUN_FIRST)
_order = [*_RUN_FIRST, *(k for k in QUERIES if k not in _RUN_FIRST)]
_ordered = {k: QUERIES[k] for k in _order}  # KeyError: a name not registered
QUERIES.clear()
QUERIES.update(_ordered)
