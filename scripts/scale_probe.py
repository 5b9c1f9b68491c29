"""Deep-scale probe: replicate the scale-path inputs N× (default 100)
and time selected operators against the same query code the gates run.

The per-round bench measures growth at 10× (bench.py's sf1 section);
this script pushes the same fixture generator two decades up so the
claim "this plan survives a 100× scale-up" is measured, not argued.
Near-dup operators are excluded by default: the replica fixture makes
their OUTPUT grow superlinearly by construction (every replica family
is mutually near), so at 100× they measure the fixture, not the plan —
pass names explicitly to include them.

Usage:
    python scripts/scale_probe.py [replicas] [op ...]

Prints one JSON line: per-op seconds at base scale and at N×, and the
wall-clock growth ratio (linear-or-better plans sit at ~N or below).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Every op here reads only the tables _ensure_sf1 scales (documents,
# embeddings, events); each row is a distinct physical-plan family, so
# the probe measures one scaling claim per shuffle/broadcast pattern.
DEFAULT_OPS = [
    "q_asof_purchase_click",      # union + one keyed shuffle + last-carry
    "pipeline_pack_sequences",    # distributed prefix sum
    "v_sparse_batch_inverted",    # posting-list broadcast join
    "text_decontaminate_bloom",   # scale-invariant bitmap broadcast
    "q_events_sessions",          # sessionization window (per-user lag/sum)
    "q_event_percentiles",        # exact interpolated percentiles per group
    "match_text_bm25",            # 1-row corpus-stats broadcast + idf join
    "pipeline_token_budget",      # ordered prefix sum + cutoff
    "ann_knn_graph_autoplanes",   # LSH-blocked per-bucket GEMM, corpus-scaled p
    "pipeline_global_shuffle",    # two-phase distributed position scan
    "dedup_substring_salted",     # shingle-hash groupBy + join-back + lag union
    "dedup_semantic_autok",       # SemDeDup, cluster count scaled with corpus
    "text_perplexity",            # checkpointed LM build + broadcast model apply
    "q_events_funnel",            # per-stage keyed join chain over shrinking state
    "text_source_profile",        # (source, token) count shuffle + shrinking aggs
    "graph_pagerank_autoplanes",  # integer PageRank iterations over the LSH graph
    "graph_hits_autoplanes",      # HITS half-iterations + 1-row normalizer broadcasts
    "multimodal_phash_probe",     # PNG synth+decode+dHash map + banded join
    "multimodal_audio_probe",     # WAV synth+parse+energy hash + banded join
    "multimodal_video_probe",     # Y4M synth+demux+temporal hash + banded join
    "text_bpe_probe",             # distinct-word collapse + 12 merge iterations
    "text_unigram_probe",         # distinct-word collapse + 3 EM iterations
    "text_langid_probe",          # ngram count shuffle + broadcast-join apply
    "sketch_cms_autowidth",       # bounded sketch shuffle, width scaled to key count
    "skew_hot_keys",              # keyed count + 1-row stats broadcast
    "layout_zorder_probe",        # normalized Morton key + repartitionByRange write path
    "sketch_kmv_probe",           # distinct-hash collapse + k-row TakeOrdered heap merge
    "sketch_hist_probe",          # bounded histogram groupBy + sketch-side quantile walk
    "layout_hilbert_probe",       # Hilbert fold key + repartitionByRange write path
    "q_events_resample",          # union + 1 key shuffle + bidirectional carries
    "cdc_scd2_history",           # one key exchange + sorted-run lead window
    "cdc_diff_probe",             # one full-outer SMJ + projection verdicts
    "bloom_join_probe",           # fixed-size bitmap broadcast probe + residue verify
    "validate_probe",             # all scalar checks in ONE aggregation pass
    "sorted_neighborhood_probe",  # two-phase global rank + bucket equi-join
    "dedup_fuzzy_probe",          # PassJoin segment/probe equi-join + verify
    "pipeline_qnorm_probe",       # two-phase pooled rank + group window + pos join
    "layout_compaction_probe",    # one agg to manifest + manifest-only prefix sum
    "dedup_paragraphs_global",    # map-side-combining min(struct) groupBy on hot unit hashes
    "text_quality_classifier",    # (label, bucket) agg -> bounded model, broadcast apply
]


def _ann_knn_graph_autoplanes(spark, sf_dir: str):
    """Probe-only production form of the kNN graph: the gate
    (ann_knn_graph_blocked) pins 16×4 hyperplanes so its DuckDB oracle
    is literal — but a FIXED p is quadratic in data size (occupancy
    ~N/2^p, per-bucket GEMM ~occupancy²), which is exactly what
    auto_bucket_planes exists to fix.  Here p scales with the corpus
    (p = ceil(log2(N/512))), the knob a 100 TB run would use; output is
    N×k rows by construction, so growth measures the plan, not the
    fixture."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.ann import self_knn_join_lsh
    from qdrant_datafusion_spark.operators.dedup import auto_bucket_planes

    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("embedding").isNotNull())
    )
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    planes, _p = auto_bucket_planes(n, dim, tables=16, target_bucket=512)
    return self_knn_join_lsh(emb, "embedding", "vec_id", planes, k=5, tables=16)


def _autoplanes_recall(spark, sf_dir: str, sample_mod: int = 1999, k: int = 5) -> dict:
    """Sampled edge recall of the auto-planes kNN graph vs exact ground
    truth — the 'is the fast graph any good' check the 100× row needs.
    Exact top-k for the FULL corpus is the quadratic thing the probe
    exists to avoid, so ground truth is computed only for a deterministic
    ~O(N/sample_mod) node sample via one broadcast batch_search pass
    (sample × corpus GEMM — linear in N)."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.topk import batch_search

    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("embedding").isNotNull())
    )
    sample = emb.filter(F.pmod("vec_id", F.lit(sample_mod)) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # top-(k+1) then drop the self match (always present at cosine 1.0)
    exact = (
        batch_search(emb, sample, "embedding", k + 1, id_col="vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    truth = {(r.query_id, r.vec_id) for r in exact.collect()}
    sampled_ids = {q for q, _ in truth}
    graph = _ann_knn_graph_autoplanes(spark, sf_dir)
    got = {
        (r.id, r.nbr_id)
        for r in graph.filter(F.col("id").isin(list(sampled_ids))).collect()
    }
    hit = len(truth & got)
    return {
        "sampled_nodes": len(sampled_ids),
        "exact_edges": len(truth),
        "recall": round(hit / len(truth), 4) if truth else None,
    }


def _dedup_semantic_autok(spark, sf_dir: str):
    """Probe-only production form of SemDeDup: the gate (dedup_semantic)
    pins 8 literal centroids so its DuckDB oracle is exact — but a FIXED
    cluster count is quadratic in data size (occupancy ~N/k, per-cluster
    GEMM ~occupancy²).  At scale k grows with the corpus (the paper uses
    50k clusters for LAION); here k = ceil(N/512) seeded centroids keeps
    expected occupancy constant, and the operator's large-k path assigns
    via one Arrow-batched GEMM argmax instead of a k-column expression."""
    import math
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.entry_queries._common import _seeded_vec
    from qdrant_datafusion_spark.operators.dedup import semantic_dedup

    emb = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(F.col("embedding").isNotNull())
    )
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    k = max(8, math.ceil(n / 512))
    centroids = [_seeded_vec(dim, 60 + i) for i in range(k)]
    return semantic_dedup(emb, "embedding", "vec_id", centroids, threshold=0.35)


def _dedup_substring_salted(spark, sf_dir: str):
    """Probe-only span-dedup row on the SALTED document replicas: the
    verbatim replica fixture makes every base span duplicated across all
    N replicas (242× output growth at 100× in r5 — the number measured
    the fixture, not the operator).  documents_salted.parquet keeps
    within-replica structure identical while cross-replica spans never
    match, so duplicate rate is constant, output grows ~linearly, and
    the growth factor finally measures the shingle-hash plan itself.
    Falls back to the unsalted table at base scale (replica 0 == base)."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.entry_queries._common import _ratio_round6
    from qdrant_datafusion_spark.operators.dedup import substring_dup_spans

    salted = os.path.join(sf_dir, "documents_salted.parquet")
    path = salted if os.path.exists(salted) else os.path.join(
        sf_dir, "documents.parquet"
    )
    docs = spark.read.parquet(path)
    out = substring_dup_spans(docs, "text", "doc_id", k=5)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_dup_starts",
        "covered_tokens",
        _ratio_round6(
            F.col("covered_tokens"), F.col("n_tokens")
        ).alias("dup_frac"),
    )


def _synth_media_udf(kind: str):
    """Probe-only media synthesizer: per-id PCG64-random pixels/samples/
    frames through the REAL codecs.  The gates' planted closed-form
    media are mod-periodic in doc_id (period ~8.8k groups for pHash), so
    verbatim 100× replicas would repeat identical media and the pair
    output would grow quadratically — measuring the fixture, exactly the
    r5 substring-dedup trap.  Random 64-bit-mixed media make expected
    near-dup pairs ≈ 0 at ANY scale (P[hamming ≤ 4 of 64 random bits]
    ≈ 4e-14 per pair), so the growth ratio measures the plan: one
    Arrow-batched synth+encode+decode+hash map and the banded join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_datafusion_spark.operators.audio import encode_wav
    from qdrant_datafusion_spark.operators.imaging import (
        encode_png,
        encode_y4m,
    )

    def synth(i: int) -> bytes:
        rng = np.random.Generator(np.random.PCG64(int(i)))
        if kind == "image":
            return encode_png(
                rng.integers(0, 256, size=(8, 9)).astype(np.uint8)
            )
        if kind == "audio":
            return encode_wav(
                rng.integers(-4096, 4096, size=65 * 64).astype(np.int16)
            )
        frames = rng.integers(0, 256, size=(65, 8, 16)).astype(np.uint8)
        return encode_y4m([frames[k] for k in range(65)])

    return pandas_udf(
        lambda ids: pd.Series([synth(i) for i in ids]), "binary"
    )


def _fingerprint_probe(kind: str):
    def probe(spark, sf_dir: str):
        import os

        from pyspark.sql import functions as F

        from qdrant_datafusion_spark.operators.audio import audio_energy_dups
        from qdrant_datafusion_spark.operators.phash import phash_image_dups
        from qdrant_datafusion_spark.operators.video import (
            video_temporal_dups,
        )

        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("id"))
        media = docs.select(
            "id", _synth_media_udf(kind)("id").alias("media")
        )
        if kind == "image":
            return phash_image_dups(media, "media", "id", max_hamming=4)
        if kind == "audio":
            return audio_energy_dups(
                media, "media", "id", max_hamming=4, frame_len=64
            )
        return video_temporal_dups(media, "media", "id", max_hamming=4)

    return probe


def _text_bpe_probe(spark, sf_dir: str):
    """BPE training at scale: the corpus collapses to the distinct-word
    table in one shuffle (the fixture vocabulary is fixed, so the table
    is ~31 rows at every replica count) — growth should track the single
    corpus-wide word count, near-flat afterwards."""
    import os

    from qdrant_datafusion_spark.operators.tokenizer import train_bpe

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = train_bpe(docs, "text", n_merges=12)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def _text_langid_probe(spark, sf_dir: str):
    """Char-n-gram language-ID at scale: training is one (lang, ngram)
    count shuffle (map-side combined, so the shuffle rows are bounded by
    |langs| x |distinct trigrams| per partition); apply is the ngram
    explode -> K-row broadcast join -> doc-keyed partial-agg groupBy.
    Both legs are linear in corpus characters; output (the confusion
    matrix) is constant-size."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.langid import (
        lang_id_ngram,
        train_lang_ngram,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    model = train_lang_ngram(docs, "text", "lang", n=3, top_k=200)
    return (
        lang_id_ngram(docs, model, "text")
        .where(F.col("lang").isNotNull())
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _text_unigram_probe(spark, sf_dir: str):
    """Unigram-LM training at scale — same distinct-word collapse; each
    EM iteration is one Arrow-batched Viterbi map + one groupBy."""
    import os

    from qdrant_datafusion_spark.operators.tokenizer import train_unigram

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vocab = train_unigram(docs, "text")
    return spark.createDataFrame(vocab, "rank int, piece string, cnt long")


def _graph_pagerank_autoplanes(spark, sf_dir: str):
    """Probe-only production form of graph_pagerank: the gate builds
    EXACT kNN edges (the quadratic oracle-literal tier); at scale the
    edges come from the LSH-blocked graph (auto-scaled planes, same as
    ann_knn_graph_autoplanes), so this row measures the PageRank
    iteration machinery itself — per-iteration keyed edge join +
    groupBy(dst) shuffle + lazy checkpoint — on a linearly-built
    graph."""
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.graph import pagerank

    edges = _ann_knn_graph_autoplanes(spark, sf_dir).select(
        F.col("id").alias("src"), F.col("nbr_id").alias("dst")
    )
    return pagerank(edges, "src", "dst", iters=3)


def _graph_hits_autoplanes(spark, sf_dir: str):
    """Probe-only production form of graph_hits: same LSH-blocked graph
    as the pagerank probe; measures the HITS half-iterations (edge join
    + map-side-combined groupBy + 1-row normalizer broadcast per side)
    on a linearly-built graph."""
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.graph import hits

    edges = _ann_knn_graph_autoplanes(spark, sf_dir).select(
        F.col("id").alias("src"), F.col("nbr_id").alias("dst")
    )
    return hits(edges, "src", "dst", iters=2)


def _sketch_cms_autowidth(spark, sf_dir: str):
    """Production form of the CMS heavy-hitter pass: width scales with
    the distinct-key count (cms_auto_width) — the gate pins width=4096
    so its DuckDB oracle is literal, but a fixed width saturates as the
    key space grows (measured: at 100× data / 150k keys the 4096-bucket
    sketch flagged every key heavy).  Width ∝ keys keeps per-key
    collision mass constant; the sketch stays ≤ depth×width rows and
    broadcastable."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.sketch import (
        cms_auto_width,
        cms_heavy_hitters,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).where(
        F.col("user_id").isNotNull()
    )
    n_keys = ev.select("user_id").distinct().count()
    width = cms_auto_width(n_keys)
    return cms_heavy_hitters(ev, "user_id", depth=4, width=width, num=12, den=10)


def _layout_zorder_probe(spark, sf_dir: str):
    """Production z-order WRITE path at scale: normalized Morton key
    (1-row range broadcast + codegen projection) + repartitionByRange —
    the gate (layout_zorder_prune) measures pruning benefit through a
    deterministic ntile harness whose global sort is measurement-only;
    this probes the path a 100 TB write would actually take."""
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.entry_queries._common import _events, _floor_div
    from qdrant_datafusion_spark.entry_queries.sketch import _DAY_NS
    from qdrant_datafusion_spark.operators.layout import zorder_layout

    base = (
        _events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            "event_id",
            F.col("user_id").cast("bigint").alias("x"),
            _floor_div("ts", _DAY_NS).cast("bigint").alias("y"),
        )
    )
    return zorder_layout(base, ["x", "y"], n_files=64)


def _cdc_diff_probe(spark, sf_dir: str):
    """Snapshot diff at scale: two event-derived key tables (event_id
    re-keys under the replica fixture, so both sides scale linearly)
    diffed by the one full-outer key join; verdict projection only —
    growth measures the SMJ, output stays proportional to the
    perturbed-key fraction by construction."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.cdc import table_diff

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "event_type"
    )
    old = ev.filter(F.col("event_id") % 11 != 3)
    new = ev.filter(F.col("event_id") % 13 != 5).withColumn(
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit("AUDIT")).otherwise(
            F.col("event_type")
        ),
    )
    return table_diff(old, new, ["event_id"], ["user_id", "event_type"])


def _bloom_join_probe(spark, sf_dir: str):
    """Bloom runtime-filter semi join at scale: the dim side is the
    users who ever errored in the first fixture week (scales with the
    replica re-keying), the fact side is all events; the bitmap stays
    a fixed 128 KB however many dim keys there are, so growth measures
    the map-side probe + residue verify, never a fact shuffle."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.joins import bloom_semi_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    dim = ev.filter(F.col("event_type") == "error").select("user_id")
    return (
        bloom_semi_join(ev, dim, "user_id")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


def _sorted_neighborhood_probe(spark, sf_dir: str):
    """Sorted-neighborhood blocking at scale: candidate mass is EXACTLY
    (w−1)·N by construction, so output grows linearly with the corpus
    and growth measures the range exchange + pid window + bucket join
    (no verify arrays: the blocking stage alone, which is the scale
    claim)."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return sorted_neighborhood_pairs(
        docs,
        F.substring(F.lower(F.trim(F.col("text"))), 1, 24),
        "doc_id",
        window=8,
    )


def _validate_probe(spark, sf_dir: str):
    """Constraint audit at scale: five scalar checks compile into one
    aggregation over one scan of events — output is 5 rows at any
    scale, so growth is the scan+agg and nothing else."""
    import os

    from qdrant_datafusion_spark.operators.validate import (
        validate_constraints,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return validate_constraints(
        ev,
        not_null=["user_id", "ts"],
        ranges={"value": (0.0, 1e9)},
        accepted={"event_type": ["click", "view", "purchase", "signup", "error"]},
        unique=["event_id"],
    )


def _sketch_kmv_probe(spark, sf_dir: str):
    """KMV distinct sketch at scale: the replica fixture re-keys user_id
    (150k distinct at 100×), so this measures the map-side-combined
    distinct + per-partition k-heap TakeOrdered path while the output
    stays k rows + a 1-row estimate by construction."""
    import os

    from qdrant_datafusion_spark.operators.sketch import kmv_build, kmv_estimate

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return kmv_estimate(kmv_build(ev, "user_id", 256), 256)


def _sketch_hist_probe(spark, sf_dir: str):
    """Histogram quantile sketch at scale: value distribution replicates
    verbatim, so the 256-row count vector grows only in counts; measures
    the bounded groupBy + the sketch-side p50/p90/p99 walk."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.sketch import hist_build, hist_quantiles

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.expr("CAST(floor(value * 1000000 + 0.5) AS BIGINT)").alias("c")
    )
    return hist_quantiles(hist_build(ev, "c", 256), 256, [500_000, 900_000, 990_000])


def _layout_hilbert_probe(spark, sf_dir: str):
    """Production Hilbert WRITE path at scale: normalized fold key +
    repartitionByRange — the Hilbert twin of _layout_zorder_probe."""
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.entry_queries._common import _events, _floor_div
    from qdrant_datafusion_spark.entry_queries.sketch import _DAY_NS
    from qdrant_datafusion_spark.operators.layout import hilbert_key

    base = (
        _events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            "event_id",
            F.col("user_id").cast("bigint").alias("x"),
            _floor_div("ts", _DAY_NS).cast("bigint").alias("y"),
        )
    )
    return (
        hilbert_key(base, ["x", "y"])
        .repartitionByRange(64, "h")
        .sortWithinPartitions("h")
    )


def _dedup_fuzzy_probe(spark, sf_dir: str):
    """PassJoin plan-shape probe: the replica fixture duplicates every
    TEXT 100x, so any key containing text makes candidate mass (and on
    a text-only key, the output too) quadratic in replicas — replicas
    share whole segments.  That is a fixture property (the production
    answer is exact-dedup first, which the pipeline does), not a plan
    property, so the probe keys on md5(doc_id) — 32 uniform hex chars,
    every PassJoin segment near-unique (a zero-padded numeric key was
    measured quadratic here: all ids share their leading digits and
    with them whole segments).  Measured growth = segment/probe
    projections + the sort-merge candidate join + verify over 100x
    rows, with result rows ~0."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.fuzzy import edit_distance_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("fz")))
    base = docs.select("doc_id", key.alias("fkey"))
    return edit_distance_pairs(base, "fkey", "doc_id", max_dist=2)


def _pipeline_qnorm_probe(spark, sf_dir: str):
    """Quantile normalization at scale: two-phase pooled rank (range
    repartition + broadcast offsets), one keyed group window, one
    integer position join — output is row-per-row by construction, so
    growth measures the three linear exchanges."""
    import os

    from qdrant_datafusion_spark.operators.pipeline import quantile_normalize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "value"
    )
    return quantile_normalize(ev, "value", "event_type", "event_id")


def _layout_compaction_probe(spark, sf_dir: str):
    """Compaction planning at scale: ONE aggregation reduces the data to
    a per-source manifest; the prefix-sum bin assignment runs on the
    manifest rows alone — output is #sources rows at any scale."""
    import os

    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.layout import compaction_plan

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return compaction_plan(docs, "source", F.octet_length("text"), 1 << 20)


def _dup_clusters_giant_probe(spark, sf_dir: str):
    """Giant-component stress for dup_clusters: a boilerplate-heavy
    crawl chains near-dups into ONE component spanning ~10% of docs
    (doc A ~ doc B ~ doc C ... — each copy near its neighbors, the
    whole family connected).  Model: a PATH graph over every 10th
    doc_id, rank-adjacent — a path maximizes diameter per edge
    (diameter = component size), the worst case for label propagation.
    The claim under test is the pointer-doubling shortcut in
    dup_clusters: rounds must grow O(log diameter) — ~doubling the
    round count per DECADE of scale, never linearly — and wall must
    stay ~linear in edges.  Pair GENERATION cost is probed elsewhere
    (the paragraph-skew and LSH probes); this isolates propagation.

    The chain is built with a global-rank window (single-partition sort
    of n/10 longs — probe fixture construction, not the operator; at
    100x that is ~500k rows, negligible next to the rounds).  Returns
    one row (n_nodes, n_components, rounds, converged): n_components
    must be 1 (the giant component actually formed) and rounds appears
    in the JSON via rows printed to stderr.
    """
    import os
    import sys as _sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.dedup import dup_clusters

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sel = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    ranked = sel.select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("_r")
    )
    nxt = ranked.select(
        (F.col("_r") + 1).alias("_r"), F.col("doc_id").alias("id_b")
    )
    chain = ranked.join(nxt, "_r").select(
        F.col("doc_id").alias("id_a"), "id_b"
    )
    stats: dict = {}
    labels = dup_clusters(chain, max_iterations=40, stats=stats)
    n_nodes = labels.count()
    n_components = labels.select("cluster_id").distinct().count()
    print(
        f"# dup_clusters_giant: nodes={n_nodes} components={n_components}"
        f" rounds={stats['rounds']} converged={stats['converged']}",
        file=_sys.stderr,
    )
    return spark.createDataFrame(
        [(n_nodes, n_components, stats["rounds"], stats["converged"])],
        "n_nodes long, n_components long, rounds long, converged boolean",
    )


def _brp_clustered_probe(spark, sf_dir: str):
    """Candidate-mass / recall measurement for the euclidean
    approximate-JOIN story on the PLANTED-CLUSTER fixture (round-12
    verdict task 1): the flat raw-embeddings spectrum (all pairs in
    [0.9, 1.4]) cannot show bucketed-join pruning, so
    ``ann.planted_cluster_embeddings`` plants groups of 4 ids around
    md5-grid centroids (intra euclid ~0.01-0.017, inter ~46) and this
    probe measures, at base and scaled n:

    - ``brp_mass``: Σ C(bucket,2) over the stock MLlib BRP's
      (table, bucket) cells — the shuffle-volume / verify-work proxy of
      ``approxSimilarityJoin`` (4 tables, bucket length 0.1, seeded);
    - ``brp_cand`` (skipped above 30k rows): DISTINCT candidate pairs +
      whether every true pair is a candidate (``full_recall``);
    - ``house_mass``: the house multi-plane hyperplane tier's mass on
      the SAME fixture with corpus-scaled planes
      (``auto_bucket_planes(n)``) — the scaling contrast: stock BRP has
      no plane-count knob (one scalar projection per table) so its mass
      FRACTION stays ~constant as n grows (quadratic absolute), while
      the house tier's p grows with log n and keeps mass ~linear.

    True pairs = n/4 clusters x C(4,2) by construction (the fixture's
    separation is asserted by the gate's exact oracle and pytest).
    """
    import sys as _sys

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.ann import (
        planted_cluster_embeddings,
    )
    from qdrant_datafusion_spark.operators.dedup import (
        _make_lsh_bucket_udf,
        auto_bucket_planes,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    c = planted_cluster_embeddings(emb, "embedding", "vec_id").filter(
        F.col("cemb").isNotNull()
    )
    base = c.select(
        F.col("vec_id").alias("_id"),
        array_to_vector(F.col("cemb")).alias("_v"),
    ).localCheckpoint(eager=True)
    n = base.count()
    all_pairs = n * (n - 1) // 2
    true_pairs = (n // 4) * 6
    model = BucketedRandomProjectionLSH(
        inputCol="_v", outputCol="_h", numHashTables=4, bucketLength=0.1,
        seed=7,
    ).fit(base)
    hb = (
        model.transform(base)
        .select(
            "_id",
            F.posexplode(F.col("_h")).alias("_t", "_hv"),
        )
        .select(
            "_id", "_t",
            F.element_at(vector_to_array("_hv"), 1).cast("long").alias("_b"),
        )
        .localCheckpoint(eager=True)
    )
    sizes = hb.groupBy("_t", "_b").count()
    brp_mass = int(
        sizes.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long")
        ).first()[0]
    )
    brp_cand, full_recall = -1, None
    if n <= 30_000:
        pairs = (
            hb.alias("x")
            .join(hb.alias("y"), ["_t", "_b"])
            .filter(F.col("x._id") < F.col("y._id"))
            .select(
                F.col("x._id").alias("a"), F.col("y._id").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        brp_cand = pairs.count()
        # every true pair (same id//4 cluster) must be a candidate
        hit = (
            pairs.filter(
                (F.col("a").cast("long") / 4).cast("long")
                == (F.col("b").cast("long") / 4).cast("long")
            ).count()
        )
        full_recall = bool(hit == true_pairs)
    # house multi-plane hyperplane tier, corpus-scaled planes
    planes, p = auto_bucket_planes(n, 64, tables=4)
    bucket_udf = _make_lsh_bucket_udf(planes, 4)
    house_sizes = (
        c.select(F.explode(bucket_udf(F.col("cemb"))).alias("_bk"))
        .groupBy("_bk")
        .count()
    )
    house_mass = int(
        house_sizes.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long")
        ).first()[0]
    )
    print(
        f"# brp_clustered n={n} all_pairs={all_pairs} true={true_pairs}"
        f" brp_mass={brp_mass} ({brp_mass / all_pairs:.4%})"
        f" brp_cand={brp_cand}"
        f" full_recall={full_recall}"
        f" house_mass={house_mass} ({house_mass / all_pairs:.4%}, p={p})",
        file=_sys.stderr,
    )
    return spark.createDataFrame(
        [(n, all_pairs, true_pairs, brp_mass, brp_cand, full_recall,
          house_mass, p)],
        "n long, all_pairs long, true_pairs long, brp_mass long,"
        " brp_cand long, full_recall boolean, house_mass long, p long",
    )


def _range_join_probe(spark, sf_dir: str):
    """Naive-vs-bucketed range join contrast on events.value against a
    DENSE interval dim: 5000 overlapping micro-bands (stride 0.1, width
    0.25) over the value domain — the regime where the naive ``BETWEEN``
    join's O(|fact|·|dim|) pair evaluations actually dominate (a 63-row
    band dim hides the quadratic term under the scan).  The naive join
    is timed here for the contrast (skipped above 2M fact rows); the
    probe returns ONLY the bucketed equi-join, so the framework's growth
    row measures the plan the operator ships (~3 candidate evals/row
    instead of 5000).  Set RANGE_JOIN_NAIVE=1 to also time the naive
    join inside the probe for the contrast (printed to stderr; it
    contaminates the framework's wall for this row, so it's opt-in —
    measured 2026-08-16: naive 5.1s at 100k rows / 25.2s at 1M vs
    bucketed 0.43s / 1.12s warm — a 22x wall win at 1M that widens with
    either side's growth)."""
    from pyspark.sql import functions as F

    from qdrant_datafusion_spark.operators.joins import range_bucket_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "value"
    )
    bands = spark.range(0, 5000).select(
        F.concat(F.lit("band_"), F.col("id").cast("string")).alias("band"),
        (F.col("id") * 0.1).alias("lo"),
        (F.col("id") * 0.1 + 0.25).alias("hi"),
    )
    if os.environ.get("RANGE_JOIN_NAIVE") == "1":
        n_fact = ev.count()
        t0 = time.time()
        n_naive = ev.join(
            bands,
            (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")),
        ).count()
        naive_s = round(time.time() - t0, 3)
        print(
            f"# range_join_probe naive BETWEEN at n={n_fact}: "
            f"{naive_s}s ({n_naive} rows)",
            file=sys.stderr,
        )
    return range_bucket_join(ev, bands, "value", bucket_width=0.1)


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    ops = sys.argv[2:] or DEFAULT_OPS
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import _ensure_sf1
    from qdrant_datafusion_spark.entry_queries import QUERIES
    from qdrant_datafusion_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    # warm the JVM / codegen / parquet-footer path before any timing, as
    # bench.py does — a cold first base_sec inflates that op's baseline
    # and understates its growth ratio
    for t in ("documents", "embeddings", "events"):
        spark.read.parquet(os.path.join(base_dir, f"{t}.parquet")).count()
    scaled_dir, gen_sec = _ensure_sf1(spark, base_dir, replicas=replicas)
    print(f"# scaled input at {scaled_dir} (gen {gen_sec}s)", file=sys.stderr)

    result: dict = {"replicas": replicas, "base_dir": base_dir, "gen_sec": gen_sec}
    rows: dict[str, dict] = {}
    probe_only = {
        "ann_knn_graph_autoplanes": _ann_knn_graph_autoplanes,
        "dedup_semantic_autok": _dedup_semantic_autok,
        "graph_pagerank_autoplanes": _graph_pagerank_autoplanes,
        "graph_hits_autoplanes": _graph_hits_autoplanes,
        "dedup_substring_salted": _dedup_substring_salted,
        "multimodal_phash_probe": _fingerprint_probe("image"),
        "multimodal_audio_probe": _fingerprint_probe("audio"),
        "multimodal_video_probe": _fingerprint_probe("video"),
        "text_bpe_probe": _text_bpe_probe,
        "text_unigram_probe": _text_unigram_probe,
        "text_langid_probe": _text_langid_probe,
        "layout_zorder_probe": _layout_zorder_probe,
        "sketch_cms_autowidth": _sketch_cms_autowidth,
        "sketch_kmv_probe": _sketch_kmv_probe,
        "sketch_hist_probe": _sketch_hist_probe,
        "layout_hilbert_probe": _layout_hilbert_probe,
        "cdc_diff_probe": _cdc_diff_probe,
        "bloom_join_probe": _bloom_join_probe,
        "validate_probe": _validate_probe,
        "sorted_neighborhood_probe": _sorted_neighborhood_probe,
        "dedup_fuzzy_probe": _dedup_fuzzy_probe,
        "pipeline_qnorm_probe": _pipeline_qnorm_probe,
        "layout_compaction_probe": _layout_compaction_probe,
        "dup_clusters_giant_probe": _dup_clusters_giant_probe,
        "brp_clustered_probe": _brp_clustered_probe,
        "range_join_probe": _range_join_probe,
    }
    for name in ops:
        fn = probe_only.get(name) or QUERIES[name]
        t0 = time.time()
        n_base = fn(spark, base_dir).count()
        base_s = round(time.time() - t0, 3)
        t0 = time.time()
        n_scaled = fn(spark, scaled_dir).count()
        scaled_s = round(time.time() - t0, 3)
        rows[name] = {
            "base_sec": base_s,
            "scaled_sec": scaled_s,
            "growth": round(scaled_s / base_s, 2) if base_s else None,
            "rows_base": n_base,
            "rows_scaled": n_scaled,
        }
        print(f"# {name}: {base_s}s -> {scaled_s}s at {replicas}x", file=sys.stderr)
    result["ops"] = rows
    if "ann_knn_graph_autoplanes" in rows:
        t0 = time.time()
        rec = _autoplanes_recall(spark, scaled_dir)
        rec["measure_sec"] = round(time.time() - t0, 3)
        result["autoplanes_recall"] = rec
        print(f"# autoplanes recall at {replicas}x: {rec}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
