"""Deduplication operators for training-data pipelines.

Five strategies, cheapest→richest; all return deterministic results
(ties broken by id) and all are built from shuffles that scale:

- ``exact_dedup``          — hash-groupBy on normalized content.  One
                             shuffle on a short hash key; survivor = min id.
- ``ngram_jaccard_dups``   — exact k-shingle Jaccard via shingle-explode +
                             self-join.  Correct but O(pairs-sharing-a-
                             shingle); at 100 TB use it only as the *verify*
                             stage after an LSH candidate pass.
- ``minhash_lsh_dups``     — MinHash signatures → banded LSH buckets →
                             candidate pairs → exact-Jaccard verify.  The
                             scale path: the only shuffle keys are
                             (band, band-hash) buckets, candidates are a
                             tiny fraction of the cross product.
- ``simhash_dups``         — 64-bit SimHash over tokens; near-dups =
                             signatures at Hamming distance ≤ r, found by
                             block-permutation banding (split the hash into
                             r+1 blocks; a pair within distance r must agree
                             on ≥1 block → bucket-join per block).
- ``embedding_near_dups``  — cosine ≥ threshold over an embedding column;
                             exact pairwise within LSH-ish buckets or
                             brute-force for small/verified sets.

Below the document level: ``substring_dup_spans`` (overlapping k-token
windows), ``paragraph_dedup_global`` / ``paragraph_dedup_incremental``
(aligned units, CCNet/Dolma shape — global first-occurrence and
batch-vs-store with a Bloom prefilter).  Incremental / ER forms:
``minhash_incremental_dups``, ``sorted_neighborhood_pairs``; cluster
resolution: ``dup_clusters`` / ``select_canonical``; span/semantic:
``semantic_dedup``.

Hashing uses md5 (bit-identical in DuckDB → every operator is
oracle-checkable end-to-end); swap F.xxhash64 in-place for ~3× at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.text import tokens, word_shingles
from qdrant_datafusion_spark.session import fan_out


def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = True,
    keep: str = "min",
) -> DataFrame:
    """Exact dedup on content hash: one row per distinct content, keeping the
    min (or max) id.  Returns (id, content_hash, dup_count).

    The groupBy key is md5(content) — 32 bytes — not the content itself, so
    the shuffle moves hashes, not documents.
    """
    c = F.col(content_col)
    if normalize:
        c = F.lower(F.trim(c))
    keeper = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.md5(c).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(keeper.alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "content_hash", "dup_count")
    )


def _shingle_pairs(
    df: DataFrame, content_col: str, id_col: str, k: int
) -> DataFrame:
    """(id_a < id_b, intersection_size, size_a, size_b) for every pair of
    docs sharing ≥1 distinct k-shingle.

    The shingle array is materialized as a column in its own projection so
    the explode and the size() both reference it instead of re-deriving the
    (expensive, interpreted-HOF) shingling expression."""
    sh = (
        fan_out(
            df.select(F.col(id_col).alias("_id"), F.col(content_col).alias("_c")),
            "_id",
        )
        .select("_id", word_shingles("_c", k).alias("_sh"))
        .select(
            "_id",
            F.size("_sh").alias("_nsh"),
            F.explode("_sh").alias("shingle"),
        )
    )
    a = sh.select(
        F.col("_id").alias("id_a"), F.col("shingle"), F.col("_nsh").alias("n_a")
    )
    b = sh.select(
        F.col("_id").alias("id_b"), F.col("shingle"), F.col("_nsh").alias("n_b")
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )


def ngram_jaccard_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (k-word shingle) Jaccard near-dup pairs:
    J(A,B) = |A∩B| / |A∪B| ≥ threshold.  Returns (id_a, id_b, inter,
    n_union, jaccard) — the integer numerator/denominator ride along so
    callers that need an engine-portable *rounded* jaccard can derive it
    with exact integer arithmetic instead of rounding the double ratio."""
    pairs = _shingle_pairs(df, content_col, id_col, k)
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    jac = F.col("inter") / union
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            union.cast("long").alias("n_union"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def source_overlap(
    df: DataFrame,
    content_col: str,
    id_col: str,
    source_col: str,
    k: int = 3,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Directional per-source-pair near-dup overlap report — which
    sources duplicate which, and how much.

    For every ordered source pair (A, B) with at least one near-dup pair
    crossing them (A == B covers intra-source duplication):

    - ``n_links``  — near-dup (doc-of-A, doc-of-B) pair incidences
      (for A ≠ B this is the cross pair count; for A == B each intra
      pair contributes both endpoints, so it counts 2× the pairs —
      i.e. "duplicated endpoints", consistent across both cases),
    - ``n_docs``   — distinct docs of A having ≥1 near-dup in B,
    - ``n_src_docs`` — total docs in A (the denominator callers need
      for the covered fraction).

    At 100 TB this is the source-selection report: a high
    ``n_docs / n_src_docs`` for (CommonCrawl-snapshot-N, snapshot-N-1)
    says snapshot N re-crawls N-1 and should be dedup'd against it
    before mixing, not just within itself.

    ``pairs``: pre-computed near-dup pairs (id_a, id_b) to reuse — e.g.
    a persisted MinHash pair table; defaults to exact k-shingle Jaccard
    (:func:`ngram_jaccard_dups`, fine at test scale, LSH at 100 TB).

    Scale: the pair table joins twice against the narrow (id, source)
    projection (shuffle on id; AQE broadcasts the map side when small),
    then aggregates on the LOW-cardinality (source_a, source_b) key —
    map-side combine flattens it before the shuffle; per-source totals
    are a separate tiny aggregate, broadcast back onto the cells.
    """
    if pairs is None:
        pairs = ngram_jaccard_dups(df, content_col, id_col, k, threshold)
    src = df.select(
        F.col(id_col).alias("_so_id"), F.col(source_col).alias("_so_src")
    )
    tagged = (
        pairs.select("id_a", "id_b")
        .join(src, F.col("id_a") == F.col("_so_id"))
        .withColumnRenamed("_so_src", "_src_a")
        .drop("_so_id")
        .join(src, F.col("id_b") == F.col("_so_id"))
        .withColumnRenamed("_so_src", "_src_b")
        .drop("_so_id")
    )
    directed = tagged.select(
        F.col("_src_a").alias("source_a"),
        F.col("_src_b").alias("source_b"),
        F.col("id_a").alias("_doc"),
    ).unionAll(
        tagged.select(
            F.col("_src_b").alias("source_a"),
            F.col("_src_a").alias("source_b"),
            F.col("id_b").alias("_doc"),
        )
    )
    cells = directed.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_links"),
        F.count_distinct("_doc").cast("long").alias("n_docs"),
    )
    totals = df.groupBy(F.col(source_col).alias("source_a")).agg(
        F.count("*").cast("long").alias("n_src_docs")
    )
    return cells.join(F.broadcast(totals), "source_a")


def auto_plane_count(
    n_rows: int, target_bucket: int = 512, min_planes: int = 4
) -> int:
    """The corpus-scaled per-table plane count used by
    :func:`auto_bucket_planes`: ``max(min_planes,
    ceil(log2(n_rows / target_bucket)))`` — exposed separately so gates
    that pre-seed literal plane pools (for cross-engine oracle parity)
    can compute the SAME p from a corpus count and slice their pool."""
    import math

    return max(
        min_planes, math.ceil(math.log2(max(2.0, n_rows / target_bucket)))
    )


def auto_bucket_planes(
    n_rows: int,
    dim: int,
    tables: int = 16,
    target_bucket: int = 512,
    min_planes: int = 4,
    seed: int = 200,
) -> tuple[list[list[float]], int]:
    """Deterministic hyperplanes for :func:`embedding_near_dups`, with the
    per-table plane count SCALED TO THE CORPUS: p = max(min_planes,
    ceil(log2(n_rows / target_bucket))), so expected bucket occupancy
    (~n/2^p) — and with it per-task GEMM cost, which grows with the
    SQUARE of occupancy — stays near ``target_bucket`` at any scale.  A
    fixed p is the one knob that silently degrades at 100 TB: 10× the
    rows at constant p is ~100× the candidate pair mass (measured in
    BENCH_DETAIL.json's lsh_occupancy probe: 16×4 planes grow pair mass
    ~100× at 10× data; p+log2(10) holds it ~linear).

    Recall at constant table count drops as p rises (1-(1-q^p)^L); raise
    ``tables`` alongside for recall-critical runs — the OR-construction
    makes tables additive in cost but multiplicative in recall.  Returns
    ``(planes, p)`` ready to pass as ``bucket_planes=``/``tables=``.
    """
    import random

    p = auto_plane_count(n_rows, target_bucket, min_planes)
    rng_planes = []
    for i in range(tables * p):
        rng = random.Random(seed + i)
        rng_planes.append([round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)])
    return rng_planes, p


def _make_lsh_bucket_udf(planes: Sequence[Sequence[float]], tables: int):
    """Arrow-batched bucket assignment: ONE (batch × dim) @ (dim × planes)
    GEMM yields every sign bit, formatted as the same "t|bits" keys the
    native fold produces.  BLAS reassociation can only flip a sign when
    |dot| is within ulps of 0 (measured: zero bucket differences vs the
    sequential fold on the test corpora); the downstream exact re-score
    keeps emitted VALUES bit-identical to the oracle regardless."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)
    p = len(planes) // tables

    @pandas_udf("array<string>")
    def buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        M = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        S = (M @ P.T > 0).astype(np.uint8)
        out = []
        for row in S:
            out.append(
                [
                    "%d|%s" % (t, "".join(map(str, row[t * p : (t + 1) * p])))
                    for t in range(tables)
                ]
            )
        return pd.Series(out)

    return buckets


def _cap_hot_buckets(
    buckets: DataFrame, key_cols: Sequence[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop rows belonging to buckets holding more than ``max_bucket_size``
    members — the skew guard for LSH self-joins.

    A single hot bucket (boilerplate-heavy corpora collapse thousands of
    near-identical docs into one band bucket) turns the bucket self-join
    quadratic on that key: 100k docs in one bucket is 10^10 candidate
    pairs in one task.  Capping bounds per-bucket work at
    O(max_bucket_size²); a doc dropped from one hot bucket still pairs
    through its other bands/blocks, so recall degrades gracefully rather
    than the job dying.  NOT silent: the matching ``*_hot_buckets``
    function reports exactly which buckets were dropped and how many
    members each held — run it alongside when capping matters.  (Exact
    duplicates should be removed with :func:`exact_dedup` *before* LSH;
    identical docs always share all buckets.)

    The window count shuffles on the same key the subsequent self-join
    shuffles on, so the guard adds no new shuffle key at scale.
    """
    if max_bucket_size is None:
        return buckets
    w = Window.partitionBy(*key_cols)
    return (
        buckets.withColumn("_bn", F.count("*").over(w))
        .filter(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def _hot_bucket_stats(
    buckets: DataFrame, key_cols: Sequence[str], max_bucket_size: int
) -> DataFrame:
    """(bucket keys..., n_members) for every bucket over the cap — the
    audit query for ``_cap_hot_buckets`` ("no silent caps")."""
    return (
        buckets.groupBy(*key_cols)
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > max_bucket_size)
    )


def minhash_lsh_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Pipeline: signature (num_hashes mins over md5(seed:shingle)) → split
    into ``bands`` bands of ``num_hashes/bands`` rows → bucket on
    md5(band_id || band content) → pairs sharing ≥1 bucket → verify with
    exact Jaccard ≥ threshold.  With 16 bands × 2 rows, P(candidate) at
    J=0.5 is 1-(1-0.25)^16 ≈ 0.99 — recall stays high while the candidate
    set stays ~linear.  Buckets over ``max_bucket_size`` are dropped (the
    skew guard — see :func:`_cap_hot_buckets`; audit the drops with
    :func:`minhash_hot_buckets`).  The recall statement above holds only
    below the cap: a corpus whose boilerplate collapses >cap docs into a
    bucket loses those pairs — pass ``max_bucket_size=None`` for the
    complete-pairs contract (the driver gate does), and run
    :func:`exact_dedup` first.  Returns (id_a, id_b, inter, n_union,
    jaccard) — integer numerator/denominator ride along as in
    :func:`ngram_jaccard_dups`.

    ``buckets``: a precomputed :func:`minhash_buckets` table; when given,
    the signature build is skipped (``df``/``content_col``/shingle
    params are then unused — the caller owns their consistency with the
    table's build).  The cap still applies here.
    """
    if buckets is None:
        buckets = minhash_buckets(df, content_col, id_col, k, num_hashes, bands)
    buckets = _cap_hot_buckets(buckets, ["bucket"], max_bucket_size)

    slim = buckets.select("_id", "bucket")
    cand = (
        slim.select(F.col("_id").alias("id_a"), "bucket")
        .join(slim.select(F.col("_id").alias("id_b"), "bucket"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fps = buckets.select("_id", "_fp").dropDuplicates(["_id"])
    return _verify_fingerprints(cand, fps, threshold)


def _verify_fingerprints(
    cand: DataFrame, fps: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, inter, n_union, jaccard) for each candidate pair of
    ``cand`` (id_a, id_b) whose fingerprint sets have exact Jaccard ≥
    ``threshold``; ``fps`` holds one ``(_id, _fp)`` row per id.

    Decide with small rows, attach the payload once (guide §8): the
    candidate join carries ONLY ids — shipping the full fingerprint
    array through every band row multiplied the shuffle by the band
    count, and verifying INSIDE the bucket join re-ran the
    array_intersect once per SHARED bucket (a true near-dup pair shares
    most of its bands, so the inline verify paid up to ``bands``× the
    intersection work; measured 37s → 9s on the 10× fixture's 250k-pair
    structure).  Each distinct candidate pair attaches its two
    fingerprint sets once and verifies once."""
    fpa = fps.select(F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"))
    fpb = fps.select(F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"))
    inter = F.size(F.array_intersect(F.col("fp_a"), F.col("fp_b")))
    union = F.size(F.col("fp_a")) + F.size(F.col("fp_b")) - inter
    jac = inter.cast("double") / union
    return (
        cand.join(fpa, "id_a")
        .join(fpb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.cast("long").alias("inter"),
            union.cast("long").alias("n_union"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dups_mllib(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hash_tables: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    num_features: int = 1 << 22,
) -> DataFrame:
    """MLlib interop tier: near-dup pairs via the STOCK Spark primitive
    (``pyspark.ml.feature.MinHashLSH.approxSimilarityJoin``) instead of
    the house banded kernel — same output contract as
    :func:`minhash_lsh_dups` (id_a, id_b, inter, n_union, jaccard).

    Pipeline: k-word shingles → ``HashingTF(binary=True)`` sparse
    membership vectors (bounded executor-side state — no driver
    vocabulary, unlike CountVectorizer) → seeded ``MinHashLSH`` with
    ``num_hash_tables`` single-row bands → ``approxSimilarityJoin`` at
    Jaccard distance ``1 - threshold`` (candidates = any shared hash
    table value; MLlib then filters on its exact vector Jaccard) → final
    exact verify with the repo's md5 fingerprint-set kernel, inclusive
    at ``jaccard >= threshold``.

    The final house verify makes the emitted VALUES independent of two
    MLlib artifacts: (a) ``approxSimilarityJoin`` filters strictly
    ``< threshold`` where every gate contract is inclusive ``>=``, and
    (b) a HashingTF index collision inside one document perturbs MLlib's
    vector Jaccard by ~1/|union| — harmless at the join's slack
    threshold, wrong to emit.  Recall is the MLlib banding's:
    P(candidate) = 1 − (1−J)^tables (32 single-row tables ⇒ ≥ 0.999 at
    J = 0.2), and the join is seeded ⇒ deterministic.

    Scale: approxSimilarityJoin explodes ``num_hash_tables`` rows per
    doc and shuffle-joins on the hash value — the same banded-bucket
    join shape as the house kernel.  The house
    :func:`minhash_lsh_dups` stays the production default (oracle-able
    md5 hashing, Kirsch-Mitzenmacher derived hashes, multi-row band
    width control, hot-bucket skew cap — MLlib exposes none of these);
    this tier exists for pipelines standardized on ``pyspark.ml``
    (SURVEY §2.3/§2.11 names the stock primitive).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = df.select(
        F.col(id_col).alias("_id"), word_shingles(content_col, k).alias("_sh")
    ).filter(F.size("_sh") > 0)
    # house 60-bit md5 fingerprints of the SAME shingles ride along for
    # the exact verify (word_shingles is already distinct per doc)
    base = sh.withColumn(
        "_fp",
        F.transform(
            "_sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "bigint"
            ),
        ),
    )
    tf = HashingTF(
        inputCol="_sh", outputCol="_vec", numFeatures=num_features,
        binary=True,
    )
    # the join input carries ONLY (_id, _vec): approxSimilarityJoin
    # explodes num_hash_tables rows per doc and shuffle-joins them, and
    # every exploded row ships the full input struct — the house ``_fp``
    # fingerprint array (one bigint per shingle) is verify-only payload,
    # so it is re-attached to the SMALL verified pair table after the
    # join instead of riding the ×32 explode (guide §2.3/§8: shuffle
    # keys and metadata, move the heavy bytes once)
    vecs = tf.transform(base).select("_id", "_vec")
    fps = base.select("_id", "_fp").localCheckpoint(eager=False)
    lsh = MinHashLSH(
        inputCol="_vec", outputCol="_hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(vecs)
    # transform ONCE and pin: approxSimilarityJoin skips its internal
    # transform when the hash column already exists, and the lazy
    # localCheckpoint keeps the shingle+TF+hash lineage from running on
    # BOTH branches of the self-join (measured ~2x on the gate)
    hashed = model.transform(vecs).localCheckpoint(eager=False)
    # +1e-3 slack, two error sources to cover before the exact verify:
    # (a) MLlib filters strictly < where the contract is inclusive >=,
    # so exact-boundary pairs (vector Jaccard == threshold) need ANY
    # positive slack; (b) a HashingTF index collision inside one doc
    # perturbs MLlib's vector Jaccard by ~1/|union| — far larger than
    # 1e-6 for small unions.  1e-3 keeps pairs with |union| >= ~1000
    # shingles safe through one collision (and smaller unions collide
    # with probability ~|doc|^2/2^22 ~ 1e-4); the house verify below
    # re-filters EXACTLY, so widening the slack can only add candidates,
    # never wrong emitted values.  Residual contract caveat: a pair whose
    # true Jaccard is within the collision perturbation ABOVE threshold
    # can still be pruned pre-verify — near-threshold recall is MLlib's,
    # not exact; the house minhash_lsh_dups has no such boundary.
    joined = model.approxSimilarityJoin(
        hashed, hashed, 1.0 - threshold + 1e-3, distCol="_jd"
    )
    pair_ids = joined.filter(
        F.col("datasetA._id") < F.col("datasetB._id")
    ).select(
        F.col("datasetA._id").alias("id_a"),
        F.col("datasetB._id").alias("id_b"),
    )
    # exact verify on the pinned fingerprint table: the candidate pair
    # set post-MLlib-filter is small, so these are broadcast-sized joins
    return _verify_fingerprints(pair_ids, fps, threshold).dropDuplicates(
        ["id_a", "id_b"]
    )


def minhash_hot_buckets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int = 1000,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(bucket, n_members) for every MinHash band bucket over the cap —
    the audit companion to :func:`minhash_lsh_dups`'s skew guard.
    ``buckets``: precomputed :func:`minhash_buckets` table (see there)."""
    if buckets is None:
        buckets = minhash_buckets(df, content_col, id_col, k, num_hashes, bands)
    return _hot_bucket_stats(buckets, ["bucket"], max_bucket_size)


def minhash_buckets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """The banded MinHash signature/bucket table ``(_id, _fp, bucket)``
    — one row per (doc, band) — that every ``minhash_*`` entry point
    builds internally.  Exposed so the EXPENSIVE stage (shingle → md5 →
    signature) can run ONCE and be reused: persist it (production:
    ``write.bucketBy("bucket")`` so downstream joins never re-shuffle)
    or pin it in-session, then pass it back via the ``buckets=`` /
    ``corpus_buckets=`` parameters.  Per-doc independent, so a row
    filter on ``_id`` equals building the table on the filtered input —
    one corpus-wide table serves any corpus/batch split."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands

    # spread the raw (id, text) rows BEFORE the shingle walk: the whole
    # shingle → md5 → 32-way min partial-aggregation chain runs in the
    # scan stage, and a single-row-group parquet file scans as one task
    # (measured: the entire 10×-fixture signature build on one core;
    # see session.fan_out — a no-op once the scan has real splits)
    base = fan_out(
        df.select(F.col(id_col).alias("_id"), F.col(content_col).alias("_c")),
        "_id",
    )
    sh = base.select("_id", word_shingles("_c", k).alias("_sh"))
    # signatures via explode + wide min-aggregation: the per-shingle md5
    # columns run in WholeStageCodegen; an array_min(transform(...)) form
    # would evaluate interpreted (HOFs are not codegen'd) and dominate the
    # runtime.  A doc with no shingles explodes to no rows, so it gets no
    # signature.
    #
    # Kirsch-Mitzenmacher double hashing: one md5 per shingle yields
    # (h1, h2); hash_i = (h1 + i*h2) mod p.  Preserves MinHash guarantees
    # at 1/num_hashes of the hashing cost (all derived hashes are cheap
    # codegen'd integer arithmetic).  _hs is a 60-bit shingle fingerprint:
    # the verify stage intersects fingerprint *sets* instead of the shingle
    # strings, so shingling runs exactly once and every downstream row
    # carries bigints, not text (same md5, so a DuckDB oracle reproduces
    # it; a cross-doc fingerprint collision would need ~2^30 distinct
    # shingles per pair to matter).
    #
    # The hash, min-aggregate and band stages are SQL expression strings,
    # not Column trees: every Column call costs py4j round trips, and the
    # 32-hash/16-band plan built from Columns took ~5,400 of them (~2 s of
    # Python-side build time on a 4-vCPU VM) against ~340 (~0.25 s) here.
    P = 4294967291  # largest prime < 2^32
    hashed = sh.selectExpr("_id", "explode(_sh) AS _s").selectExpr(
        "_id",
        "CAST(conv(substring(md5(_s), 1, 8), 16, 10) AS BIGINT) AS _h1",
        "CAST(conv(substring(md5(_s), 9, 8), 16, 10) AS BIGINT) * 2 + 1 AS _h2",
        "CAST(conv(substring(md5(_s), 1, 15), 16, 10) AS BIGINT) AS _hs",
    )
    # ONE aggregation yields both the minhash signature and the fingerprint
    # set — no separate join back to the shingle arrays
    sigs = hashed.groupBy("_id").agg(
        F.expr("collect_set(_hs) AS _fp"),
        *[F.expr(f"min((_h1 + {i} * _h2) % {P}) AS _h{i}") for i in range(num_hashes)],
    )
    bands_sql = ", ".join(
        "md5(concat_ws('|', '%d', %s))"
        % (b, ", ".join(f"_h{b * rows_per_band + r}" for r in range(rows_per_band)))
        for b in range(bands)
    )
    return sigs.selectExpr("_id", "_fp", f"explode(array({bands_sql})) AS bucket")


#: SimHash width: 15 hex chars = 60 bits.  60 (not 64) keeps the bigint
#: fold far from signed overflow (Spark 4 runs ANSI mode by default) and
#: divides evenly into 4 blocks for Hamming-3 block search.
SIMHASH_HEX_CHARS = 15
SIMHASH_BITS = SIMHASH_HEX_CHARS * 4


def simhash64(content_col: str | Column, prefix_hex_chars: int = SIMHASH_HEX_CHARS) -> Column:
    """SimHash of a text's token multiset, as a bigint (60 bits used).

    Per token: h = first ``prefix_hex_chars`` hex chars of md5(token).
    Signature bit (MSB-first over the hex string) is 1 iff
    Σ_tokens (bit ? +1 : -1) > 0.  Built natively: tokens → per-token hex
    hash → per-bit vote via aggregate over an array accumulator → MSB-first
    fold ``acc*2 + bit``.  md5-based so a DuckDB oracle can replicate it
    bit-for-bit.
    """
    nbits = prefix_hex_chars * 4
    toks = tokens(content_col)
    hashes = F.transform(toks, lambda t: F.substring(F.md5(t), 1, prefix_hex_chars))

    def bits_of(h: Column) -> Column:
        # per hex char (string order), its 4 bits MSB-first, as ±1 votes
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(prefix_hex_chars)),
                lambda ci: F.array(
                    *[
                        F.shiftright(
                            F.conv(F.substr(h, ci, F.lit(1)), 16, 10).cast("int"), b
                        ).bitwiseAND(F.lit(1))
                        * 2
                        - 1
                        for b in (3, 2, 1, 0)
                    ]
                ),
            )
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, v: a + v),
    )
    # MSB-first fold into a bigint: acc*2 + (vote>0)
    return F.aggregate(
        votes,
        F.lit(0).cast("bigint"),
        lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0).cast("bigint"),
    )


def simhash_signatures(
    df: DataFrame, content_col: str, id_col: str, prefix_hex_chars: int = SIMHASH_HEX_CHARS
) -> DataFrame:
    """(id, sig) SimHash signatures, computed scale-out: explode tokens →
    60 codegen'd per-bit vote columns → groupBy(id).sum → fold to bigint.

    Semantically identical to :func:`simhash64` but ~10× faster — the
    per-row higher-order-function formulation runs interpreted, while the
    explode form keeps every expression inside WholeStageCodegen and uses a
    map-side-combining aggregation.  Documents with zero tokens drop out
    (they have no signature to compare).
    """
    nbits = prefix_hex_chars * 4
    # one conv per token: the 15-hex-char md5 prefix parses to a single
    # 60-bit integer (fits bigint under ANSI); every bit vote is then two
    # integer ops — no per-nibble string parsing.  fan_out first: the
    # token explode + md5 + 20 packed-vote partial aggregations all run
    # in the scan stage, which is one task on a single-row-group file
    # (session.fan_out — no-op once the scan has real splits)
    tok = fan_out(
        df.select(F.col(id_col).alias("_id"), F.col(content_col).alias("_c")),
        "_id",
    ).select(
        "_id", F.explode(tokens("_c")).alias("_t")
    ).select(
        "_id",
        F.conv(F.substring(F.md5("_t"), 1, prefix_hex_chars), 16, 10)
        .cast("bigint")
        .alias("_h"),
    )

    # SIMD-in-a-register voting: instead of one ±1 sum per bit position
    # (60 aggregation columns — the agg row width dominates the stage),
    # count set bits in 20-bit lanes, 3 lanes per bigint → 20 accumulator
    # columns + one token count.  Lane l of packed column c holds
    # n1(p = 3c + l), the number of tokens with bit p set; the majority
    # vote is then 2*n1 > ntok (== Σ±1 > 0).  Lanes can't collide while
    # a document has < 2^20 tokens (and the lane-2 total stays < 2^60).
    lane_bits = 20
    lanes = 3
    ncols = nbits // lanes

    def packed_votes(c: int) -> Column:
        term: Column | None = None
        for lane in range(lanes):
            p = c * lanes + lane
            bit = (
                F.shiftright(F.col("_h"), nbits - 1 - p)
                .bitwiseAND(F.lit(1))
                .cast("bigint")
            )
            shifted = F.shiftleft(bit, lane_bits * lane)
            term = shifted if term is None else term + shifted
        return term

    packed = tok.select(
        "_id", *[packed_votes(c).alias(f"_p{c}") for c in range(ncols)]
    )
    summed = packed.groupBy("_id").agg(
        F.count("*").alias("_ntok"),
        *[F.sum(f"_p{c}").alias(f"_s{c}") for c in range(ncols)],
    )
    mask = (1 << lane_bits) - 1
    sig: Column | None = None
    for c in range(ncols):
        for lane in range(lanes):
            p = c * lanes + lane
            n1 = F.shiftright(F.col(f"_s{c}"), lane_bits * lane).bitwiseAND(
                F.lit(mask).cast("bigint")
            )
            term = F.when(
                n1 * 2 > F.col("_ntok"), F.lit(1 << (nbits - 1 - p)).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
            sig = term if sig is None else sig + term
    return summed.select("_id", sig.alias("sig"))


def simhash_buckets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """The exploded SimHash block-bucket table (_id, sig, bid, bval) —
    one row per (doc, signature block), the :func:`minhash_buckets`
    twin.  Build it once (persist it, or pin it in-session) and pass it
    back through the ``buckets=`` parameter of :func:`simhash_dups` /
    :func:`simhash_hot_buckets` so the signature pass (the dominant cost:
    token explode + 20 packed vote aggregations) runs once per corpus,
    not once per consumer.  Per-doc independent, so unioning
    independently built tables equals building over the unioned input."""
    nblocks = blocks or (max_hamming + 1)
    sig = simhash_signatures(df, content_col, id_col)

    width = SIMHASH_BITS // nblocks
    block_cols = [
        F.shiftright(F.col("sig"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1).cast("bigint"))
        .alias(f"_blk{i}")
        for i in range(nblocks)
    ]
    blocked = sig.select("_id", "sig", *block_cols)
    return blocked.select(
        "_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("bid"), F.col(f"_blk{i}").alias("bval"))
                    for i in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("_id", "sig", F.col("b.bid").alias("bid"), F.col("b.bval").alias("bval"))


def simhash_hot_buckets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
    max_bucket_size: int = 1000,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """(bid, bval, n_members) for every SimHash block bucket over the cap —
    the audit companion to :func:`simhash_dups`'s skew guard.
    ``buckets``: precomputed :func:`simhash_buckets` table (see there)."""
    if buckets is None:
        buckets = simhash_buckets(df, content_col, id_col, max_hamming, blocks)
    return _hot_bucket_stats(
        buckets,
        ["bid", "bval"],
        max_bucket_size,
    )


def simhash_dups(
    df: DataFrame,
    content_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
    max_bucket_size: int | None = 1000,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Block-permutation search: split the 64-bit signature into
    ``max_hamming+1`` blocks — any pair within distance ``max_hamming``
    agrees exactly on at least one block (pigeonhole), so candidates are
    found with equi-joins on (block_id, block_value) and then verified with
    ``bit_count(a XOR b)``.  Buckets over ``max_bucket_size`` are dropped
    (the skew guard — see :func:`_cap_hot_buckets`; audit the drops with
    :func:`simhash_hot_buckets`).  The pigeonhole completeness guarantee
    therefore holds only for pairs whose shared blocks stay under the cap
    — pass ``max_bucket_size=None`` for the exact contract (the driver
    gate does), and run :func:`exact_dedup` first so identical documents
    never pile into one bucket.  Returns (id_a, id_b, hamming).

    ``buckets``: a precomputed :func:`simhash_buckets` table; when given,
    the signature build is skipped (``df``/``content_col``/geometry
    params are then unused — the caller owns their consistency with the
    table's build).  The cap still applies here.
    """
    if buckets is None:
        buckets = simhash_buckets(df, content_col, id_col, max_hamming, blocks)
    exploded = _cap_hot_buckets(
        buckets,
        ["bid", "bval"],
        max_bucket_size,
    )

    a = exploded.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"), "bid", "bval")
    b_ = exploded.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"), "bid", "bval")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # verify (a cheap integer xor) BEFORE deduplicating: the Hamming filter
    # kills ~all of the candidate stream inside the join stage, so the
    # dropDuplicates shuffle only carries true near-dups
    return (
        a.join(b_, ["bid", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _gemm_candidate_pairs(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    threshold: float,
    block_size: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold-ε pairs via block matrix multiply.

    Rows are grouped into blocks of ``block_size``; each block *pair* is one
    task doing a NumPy GEMM (BLAS) instead of n² interpreted expression
    evaluations — the standard distributed exact-similarity-join shape.
    The ε margin (1e-6) means no true pair is lost to BLAS summation-order
    differences; each selected pair's EXACT score is then computed in the
    same task with the sequential-order cumsum kernel (``ann._seq_dot`` —
    bit-identical to the native fold), emitted as ``cosine``, so callers
    only filter ``cosine >= threshold`` — no vector join / interpreted
    re-score stage (round 13: that join dominated the wall at 10× scale).
    """
    import math

    import pandas as pd

    rows = df.select(F.col(id_col).alias("_id"), F.col(vector_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    # block membership by hash-mod, NOT a global row_number window — an
    # unpartitioned window is a single-partition sort of the whole table
    # (the exact bottleneck this operator exists to avoid).  Correctness
    # doesn't care which rows share a block (every block pair is compared);
    # hash gives balanced blocks with zero global ordering.  One count()
    # sizes the block grid.  block_size=None (default) sizes the grid to
    # the corpus (operators.ann._auto_gemm_nblocks — minimize duplicated
    # vector shipping while keeping the cores fed); the emitted pair set
    # is blocking-invariant (every block pair is compared).
    from qdrant_datafusion_spark.operators.ann import _auto_gemm_nblocks

    n = rows.count()
    nblocks = (
        _auto_gemm_nblocks(n)
        if block_size is None
        else max(1, math.ceil(n / block_size))
    )
    blocks = rows.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("_id")), F.lit(nblocks)).cast("int")
    )
    grouped = blocks.groupBy("_blk").agg(
        F.collect_list("_id").alias("_ids"), F.collect_list("_v").alias("_vs")
    )
    a = grouped.select(
        F.col("_blk").alias("blk_a"), F.col("_ids").alias("ids_a"), F.col("_vs").alias("vs_a")
    )
    b = grouped.select(
        F.col("_blk").alias("blk_b"), F.col("_ids").alias("ids_b"), F.col("_vs").alias("vs_b")
    )
    from qdrant_datafusion_spark.operators.ann import (
        _gemm_pair_parallelism,
        _gemm_tile_rows,
        _seq_dot,
        _seq_norms,
    )

    pairs = (
        a.crossJoin(b)
        .filter(F.col("blk_a") <= F.col("blk_b"))
        # spread the grid's block pairs round-robin (guide §2.5): the
        # crossJoin output holds every pair with the same blk_a in ONE
        # partition, serializing the hottest block's row of the grid
        .repartition(_gemm_pair_parallelism(df, nblocks * (nblocks + 1) // 2))
    )

    margin = 1e-6
    id_field = df.select(F.col(id_col)).schema.fields[0]
    out_schema = (
        f"id_a {id_field.dataType.simpleString()}, "
        f"id_b {id_field.dataType.simpleString()}, cosine double"
    )

    def gemm(batches):
        import numpy as np

        for pdf in batches:
            # vectorized emitter (guide §4.2): threshold mask + fancy
            # indexing instead of a per-pair Python append loop
            a_parts: list = []
            b_parts: list = []
            s_parts: list = []
            for r in pdf.itertuples(index=False):
                same = r.blk_a == r.blk_b
                # np.stack: one C-loop copy of the Arrow float32 rows into
                # the (rows, dim) matrix instead of a per-vector Python
                # conversion loop (guide §4.2)
                va = np.stack(r.vs_a).astype(np.float64)
                vb = va if same else np.stack(r.vs_b).astype(np.float64)
                na = np.linalg.norm(va, axis=1)
                nb = na if same else np.linalg.norm(vb, axis=1)
                # normalize rows first (not the n² outer+divide, measured
                # memory-bandwidth-bound), then GEMM in ROW TILES whose
                # output fits the cache budget (ann._GEMM_TILE_BYTES —
                # concurrent full-block matrices collapsed this machine
                # class ~100×); sims is selection-only and the 1e-6
                # margin dwarfs the ulp-level difference
                van = va / na[:, None]
                vbn = van if same else vb / nb[:, None]
                ids_a = np.asarray(list(r.ids_a))
                ids_b = ids_a if same else np.asarray(list(r.ids_b))
                # exact sequential-order score for the selected pairs,
                # in-task (cumsum contract, see ann._seq_dot) — the
                # cosine is symmetric bit-for-bit (elementwise products
                # are commutative, the sum order is element order), so
                # the id normalization below never changes the value
                sna = _seq_norms(va)
                snb = sna if same else _seq_norms(vb)
                trows = _gemm_tile_rows(vbn.shape[0])
                for s0 in range(0, van.shape[0], trows):
                    sims = van[s0 : s0 + trows] @ vbn.T
                    ia, ib = np.nonzero(sims >= threshold - margin)
                    ia = ia + s0
                    sv = _seq_dot(va[ia], vb[ib]) / (sna[ia] * snb[ib])
                    pa, pb = ids_a[ia], ids_b[ib]
                    if same:
                        # same block: each unordered pair appears twice
                        # (and on the diagonal) — keep the ordered half
                        m = pa < pb
                        pa, pb, sv = pa[m], pb[m], sv[m]
                    else:
                        # cross block: each unordered pair appears exactly
                        # once, but hash blocking doesn't order ids across
                        # blocks — normalize instead of dropping
                        lo = np.minimum(pa, pb)
                        pb = np.maximum(pa, pb)
                        pa = lo
                    a_parts.append(pa)
                    b_parts.append(pb)
                    s_parts.append(sv)
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(a_parts) if a_parts else [],
                    "id_b": np.concatenate(b_parts) if b_parts else [],
                    "cosine": (
                        np.concatenate(s_parts)
                        if s_parts
                        else np.array([], dtype=np.float64)
                    ),
                }
            )

    return pairs.mapInPandas(gemm, schema=out_schema)


def embedding_near_dups(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    threshold: float = 0.95,
    bucket_planes: Sequence[Sequence[float]] | None = None,
    block_size: int | None = None,
    tables: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Without ``bucket_planes``: exact all-pairs — block-GEMM candidate
    generation (BLAS, distributed over block pairs) followed by re-scoring
    the few candidates with the sequential-order native kernel, so reported
    cosines are bit-identical to a sequential-sum oracle.  The exact grid
    is O((N/B)²) block pairs — the *verify/oracle tier*, not the 100 TB
    default.

    With planes: multi-table random-hyperplane LSH — ``bucket_planes`` is
    split into ``tables`` groups of p planes; a row buckets per table by
    the sign pattern of that group's dot products, and a pair is a
    candidate if it shares a bucket in ANY table (OR-construction,
    recall = 1-(1-q^p)^L for per-plane agreement q = 1-θ/π — 16 tables ×
    4 planes measures 0.96 on the test corpus).  Candidate ids (never
    vectors) flow through the bucket join; unique candidates are scored
    two-tier — BLAS-batched approximate cosine behind a 1e-6 margin, then
    the sequential-order native kernel for survivors only, so emitted
    cosines match the exact path bit-for-bit.  Per-table bucket sizes are
    ~N/2^p and every shuffle keys on (table, bucket) — the 100 TB default.
    ``max_bucket_size`` drops oversized buckets (skew guard, audited via
    :func:`_hot_bucket_stats` semantics).  Returns (id_a, id_b, cosine).
    """
    base = df.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vector_col).alias("_v"),
    )
    if not bucket_planes:
        # the GEMM grid already emits the exact sequential-order cosine
        # per selected pair (see _gemm_candidate_pairs) — just apply the
        # exact threshold; no vector join, no interpreted re-score
        return _gemm_candidate_pairs(
            df, vector_col, id_col, threshold, block_size
        ).filter(F.col("cosine") >= threshold)
    if len(bucket_planes) % tables:
        raise ValueError("tables must divide len(bucket_planes)")
    import numpy as np

    id_dt = df.select(id_col).schema.fields[0].dataType.simpleString()
    bucket_udf = _make_lsh_bucket_udf(bucket_planes, tables)
    bucketed = _cap_hot_buckets(
        base.select("_id", "_v", F.explode(bucket_udf(F.col("_v"))).alias("_bucket")),
        ["_bucket"],
        max_bucket_size,
    )
    # per-bucket GEMM blocks: each bucket's vectors meet in ONE in-task
    # cosine matrix — candidate pairs never materialize as a shuffled
    # vector-pair join.  The ONLY wide exchange is the bucket groupBy of
    # (id, vector) rows (N × tables rows); per-task work and memory are
    # bounded by the bucket cap.  Same two-tier contract as the exact
    # grid: blocks select pairs at (threshold - 1e-6) from the BLAS
    # matrix, then compute each survivor's EXACT sequential-order score
    # in the same task (ann._seq_dot cumsum contract) — values are
    # oracle-bit-identical with no vector join / interpreted re-score.
    # A pair emitted from several buckets computes from identical
    # operands, so dropDuplicates keeps a bit-identical score.
    from qdrant_datafusion_spark.operators.ann import _seq_dot, _seq_norms

    margin = float(threshold) - 1e-6

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        ids = pdf["_id"].to_numpy()
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0.0] = np.nan
        Mn = M / norms[:, None]  # normalize-first: selection-only GEMM
        C = Mn @ Mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = C[iu, ju] >= margin
        ik, jk = iu[keep], ju[keep]
        sn = _seq_norms(M)
        sc = _seq_dot(M[ik], M[jk]) / (sn[ik] * sn[jk])
        a, b = ids[ik], ids[jk]
        swap = b < a  # normalize so id_a < id_b (np.where keeps str ids)
        lo = np.where(swap, b, a)
        hi = np.where(swap, a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sc})

    cands = (
        bucketed.groupBy("_bucket")
        .applyInPandas(block, schema=f"id_a {id_dt}, id_b {id_dt}, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cands.filter(F.col("cosine") >= threshold)


def embedding_near_dups_brp(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    radius: float,
    num_hash_tables: int = 4,
    bucket_length: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """MLlib interop tier for EUCLIDEAN near-dup pairs: candidates via the
    stock ``pyspark.ml`` ``BucketedRandomProjectionLSH.approxSimilarityJoin``
    (the join form of the primitive ``knn_brp_mllib`` uses point-wise),
    verified and scored by the house sequential-fold euclid kernel —
    returns (id_a, id_b, dist) with ``dist <= radius`` inclusive.

    Candidates = pairs sharing ANY of the ``num_hash_tables`` buckets
    (bucket = floor(x·v / bucket_length) per seeded random unit vector
    v); MLlib pre-filters them at ``radius + 1e-6`` — the slack covers
    (a) its strict ``<`` where this contract is inclusive ``>=`` and
    (b) summation-order ulps between MLlib's internal distance and the
    house kernel; the exact inclusive re-filter below means widening the
    slack can only add candidates, never change emitted values.  Recall
    is the LSH's: a true pair is missed iff its projections straddle a
    bucket boundary in EVERY table — P ≈ (d/L)^tables for pair distance
    d ≪ bucket length L, so on a corpus whose near-pair distances sit
    well inside L (e.g. the planted-cluster fixture:
    ``ann.planted_cluster_embeddings``, intra ~0.01-0.014 vs L = 0.1 ⇒
    P(miss) ≲ 4e-8 per pair) full recall is the expected contract, and
    the seeded hash makes the candidate set deterministic either way.

    Scale/honesty: pruning power is SPECTRUM-dependent.  Each table is a
    single scalar projection, so inter-pair collision probability is
    ~2·(L/D)·sqrt(dim/2π) for typical non-pair distance D — on a corpus
    with D ≫ L (clustered data) the join prunes hard (measured ~18x pair
    mass at L=0.1, D≈46 on the planted fixture), while on a NARROW
    spectrum (this repo's raw embeddings, all pairs in [0.9, 1.4]) no L
    separates pairs from non-pairs and the join degrades toward
    all-pairs — which is why the raw-fixture gate exposes only the ANN
    form (``knn_brp_mllib``).  The shuffle shape is the house LSH tier's:
    ``num_hash_tables`` rows per vector exchanged on (table, bucket),
    never a pairwise vector join.  The house ``embedding_near_dups``
    (cosine, corpus-scaled plane count, skew caps) remains the production
    default; this tier exists for pipelines standardized on ``pyspark.ml``
    (SURVEY §2.3 names the stock primitive).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from qdrant_datafusion_spark.functions.distance import euclid_distance

    base = (
        df.filter(F.col(vector_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(vector_col).cast("array<double>").alias("_arr"),
        )
        .withColumn("_v", array_to_vector(F.col("_arr")))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_v", outputCol="_h",
        numHashTables=num_hash_tables, bucketLength=float(bucket_length),
        seed=seed,
    )
    model = lsh.fit(base)
    # transform ONCE and pin (approxSimilarityJoin skips its internal
    # transform when the hash column exists) — same ~2x self-join saving
    # as minhash_lsh_dups_mllib
    hashed = model.transform(base).localCheckpoint(eager=False)
    joined = model.approxSimilarityJoin(
        hashed, hashed, float(radius) + 1e-6, distCol="_d"
    )
    return (
        joined.filter(F.col("datasetA._id") < F.col("datasetB._id"))
        .select(
            F.col("datasetA._id").alias("id_a"),
            F.col("datasetB._id").alias("id_b"),
            euclid_distance(
                F.col("datasetA._arr"), F.col("datasetB._arr")
            ).alias("dist"),
        )
        .filter(F.col("dist") <= float(radius))
        .dropDuplicates(["id_a", "id_b"])
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    reliable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id) with
    cluster_id = min member id.  This turns pairwise dedup output into
    survivor selection: keep rows where id == cluster_id, drop the rest.

    Algorithm: min-label propagation with pointer doubling — each round a
    node adopts the smallest label among itself, its neighbors, AND its
    current label-node's label (the large-star/small-star shortcut).  The
    shortcut makes label distances halve per round, so convergence is
    O(log diameter) instead of O(diameter): a 1M-hop chain (far beyond any
    real near-dup component) converges in ~20 rounds.  Iteration stops
    early when a round changes no labels; if ``max_iterations`` rounds all
    changed labels, the result may be partially propagated and a
    non-convergence warning is raised (silent wrong survivor selection is
    worse than a warning).

    Fault tolerance at cluster scale: the default materialization is
    ``localCheckpoint`` — lineage is truncated, so a lost executor mid-loop
    loses its partitions unrecoverably and fails the job (acceptable for
    short jobs; Spark restarts it).  On long 100 TB runs pass
    ``reliable=True`` to use reliable ``checkpoint()`` instead, which
    persists rounds to the configured checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` — typically HDFS/S3) and
    survives executor loss at the cost of a write per round.

    ``stats``: optional dict the call fills with ``{"rounds": r,
    "converged": bool}`` — the observable the giant-component scale
    probe asserts O(log diameter) convergence on.
    """
    import warnings

    def _materialize(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # materialize ONCE: every propagation round joins edges twice and
        # runs two actions — without this, each of those re-executes the
        # full upstream candidate-generation plan (the expensive jaccard /
        # LSH join), turning an O(rounds) loop into O(rounds × pair-gen).
        # Checkpointing spills to (executor-local or reliable) storage, so
        # it holds at edge counts far beyond driver memory (unlike collect).
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("label")
    )
    changed = 0
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: also adopt the label of the node your label
        # points at — label values are always vertex ids, so the self-join
        # resolves one extra hop per round and distances halve per round
        hop = propagated.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            propagated.join(hop, propagated.label == hop._lid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_llabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # checkpoint FIRST, then diff against the old labels from the
        # materialized copy — computing `changed` off the raw plan and
        # checkpointing afterwards would execute the round's propagation
        # twice
        new_cp = _materialize(new_labels)
        changed = (
            new_cp.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_cp
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = changed == 0
    if changed != 0:
        warnings.warn(
            f"dup_clusters did not converge in {max_iterations} iterations; "
            "cluster_ids may be partially propagated (survivor selection "
            "would keep extra duplicates). Raise max_iterations.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def select_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    score_col: Column | str,
) -> DataFrame:
    """Quality-aware survivor selection: given rows and a (id, cluster_id)
    map from :func:`dup_clusters`, keep per cluster the row with the
    HIGHEST score (ties broken by smallest id) instead of the smallest id
    — the standard near-dup removal policy when a quality signal exists
    (drop the mangled OCR copy, keep the clean one).

    Rows absent from ``clusters`` (never paired with anything) form
    singleton clusters of themselves and are always kept.  ``score_col``
    should be an exact-ordering column (integer or decimal) when
    cross-engine reproducibility matters; ranking on raw doubles ties are
    engine-dependent only within equal-score groups, which the id
    tie-break resolves.

    Returns (id, cluster_id, score, kept) — one row per input row, so
    both the survivor set (``kept``) and the drop audit (``NOT kept``)
    come from the same DataFrame.  Plan shape: the clusters map is the
    dedup output (≪ corpus, only paired docs) joined on id — broadcast
    at typical dup rates — then ONE shuffle on cluster_id for the
    row_number window.
    """
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    # ids keep their NATIVE type: collection point ids are canonically
    # string/uuid (see pack_sequences), and a long cast would throw under
    # ANSI — or, ANSI off, null every unpaired id and collapse all
    # singletons into one NULL cluster with a single survivor.  The
    # cluster map's ids are cast to the input's id type instead (they
    # originate from the same column via dup_clusters).
    id_type = df.schema[id_col].dataType
    scored = df.select(F.col(id_col).alias("id"), score.alias("score"))
    labeled = (
        scored.join(
            clusters.select(
                F.col("id").cast(id_type).alias("id"),
                F.col("cluster_id").cast(id_type).alias("cluster_id"),
            ),
            "id",
            "left",
        )
        .select(
            "id",
            F.coalesce("cluster_id", "id").alias("cluster_id"),
            "score",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return labeled.withColumn("kept", F.row_number().over(w) == F.lit(1))


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact duplicated-substring detection at k-token granularity — the
    span-level sibling of document-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    50-token spans anywhere in the corpus are memorization fuel even when
    no two *documents* are near-dups).

    A position ``i`` in a document is *flagged* when its k-token shingle
    occurs at more than one (doc, pos) location corpus-wide (including
    twice within one document).  Flagged starts cover token intervals
    ``[i, i+k)``; overlapping intervals merge.  Per surviving document the
    result reports how much of it is duplicated text:

    ``(id, n_tokens, n_dup_starts, covered_tokens)`` — only documents
    with ≥1 flagged position appear; ``covered_tokens / n_tokens`` is the
    duplicated-text fraction a curation pass gates on.

    Plan shape (all shuffles linear in corpus token count):
    1. shingle hashes explode to (id, pos, hash) rows — a narrow map,
       k-gram built JVM-side via ``transform(sequence(...))`` + ``slice``;
    2. flagged positions = ONE shuffle on the hash + a per-hash window
       count > 1 (the groupBy-then-join-back form computes the whole
       shingle subtree twice — the window form shuffles the same rows
       once and never rescans);
    3. interval merge = per-document window (``lag`` over pos): a start
       contributes ``min(k, pos - prev_pos)`` new covered tokens — the
       closed-form union of sorted fixed-length intervals, no iterative
       merging.
    The suffix-array construction the paper uses is a single-machine
    algorithm; the shingle-hash form is its standard distributed
    approximation and is exact for duplicated spans of length ≥ k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = (
        df.select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") >= k)
    )
    sh = base.select(
        "_id",
        "_n",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(_toks) - {k}),"
                f" i -> md5(concat_ws(' ', slice(_toks, i + 1, {k}))))"
            )
        ).alias("_pos", "_h"),
    )
    flagged = (
        sh.withColumn("_c", F.count("*").over(Window.partitionBy("_h")))
        .filter(F.col("_c") > 1)
        .drop("_c")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    cov = flagged.withColumn(
        "_new",
        F.least(
            F.lit(k), F.col("_pos") - F.coalesce(F.lag("_pos").over(w), F.lit(-k))
        ),
    )
    return cov.groupBy(F.col("_id").alias(id_col)).agg(
        F.max("_n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_dup_starts"),
        F.sum("_new").cast("long").alias("covered_tokens"),
    )


def semantic_dedup(
    df: DataFrame,
    vector_col: str,
    id_col: str,
    centroids: Sequence[Sequence[float]],
    threshold: float = 0.95,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    corpus into k-means clusters, then prune *within each cluster* the
    rows whose embedding sits inside the cosine-``threshold`` ball of a
    kept row — semantic duplicates that exact/MinHash dedup cannot see
    (paraphrases, translations, re-renders).

    Deterministic pair-based variant: a row is **dropped** when a
    lower-id member of its cluster is within the threshold (the paper
    keeps one random member per ε-ball; min-id is the reproducible
    choice, same policy as :func:`exact_dedup`).  Returns one row per
    input row — ``(id, cluster, n_lower_dups, dropped, max_cos_lower)``
    with ``max_cos_lower = -1.0`` for rows with no lower-id neighbor —
    so the survivor set (``dropped = 0``) and the audit of what was
    removed come from the same DataFrame.

    Plan shape: centroid assignment is a narrow map (argmax of
    ``len(centroids)`` sequential dots — no shuffle); the ONLY wide
    exchange groups (id, vector) rows by cluster for one in-task GEMM
    per cluster (same two-tier contract as :func:`embedding_near_dups`:
    BLAS candidates behind a 1e-6 margin, survivors re-scored with the
    sequential-order native kernel so emitted cosines are oracle-exact).
    At 100 TB the cluster count scales with the corpus
    (``train_ivf_centroids`` with k ∝ N / target-occupancy keeps
    per-cluster GEMMs constant-size — the paper uses k = 50k for LAION);
    ``max_cluster_size`` is the skew guard for degenerate clusters
    (audit via :func:`_hot_bucket_stats` on the assignment).
    """
    import numpy as np
    from qdrant_datafusion_spark.operators.ann import assign_ivf_cells

    id_dt = df.select(id_col).schema.fields[0].dataType.simpleString()
    rows = df.select(F.col(id_col).alias("_id"), F.col(vector_col).alias("_v"))
    if len(centroids) <= 32:
        # native sequential-dot argmax — plan-inlined, bit-identical to
        # the SQL oracle's list_position/list_max (the gate path)
        base = assign_ivf_cells(rows, "_v", centroids, cell_col="_cluster")
    else:
        # large-k path (k scales with N at 100 TB): one Arrow-batched
        # GEMM argmax instead of a k-column expression tree — Catalyst
        # folds a few dozen dot columns fine, but k=thousands of
        # centroids belongs in BLAS.  np.argmax keeps the same
        # first-max tie-break as array_position.
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(centroids, dtype=np.float64)

        @pandas_udf("int")
        def _cell(vs: pd.Series) -> pd.Series:
            if vs.empty:
                return pd.Series([], dtype="int32")
            M = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
            return pd.Series(np.argmax(M @ C.T, axis=1).astype("int32"))

        base = rows.filter(F.col("_v").isNotNull()).withColumn(
            "_cluster", _cell(F.col("_v"))
        )
    capped = _cap_hot_buckets(base, ["_cluster"], max_cluster_size)
    margin = float(threshold) - 1e-6
    # exact sequential-order scores computed IN the cluster block task
    # (ann._seq_dot cumsum contract — the bits the former vector join +
    # interpreted fold produced), so no re-score join exists downstream
    from qdrant_datafusion_spark.operators.ann import _seq_dot, _seq_norms

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
        ids = pdf["_id"].to_numpy()
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0.0] = np.nan
        Mn = M / norms[:, None]  # normalize-first: selection-only GEMM
        C = Mn @ Mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = C[iu, ju] >= margin
        ik, jk = iu[keep], ju[keep]
        sn = _seq_norms(M)
        sc = _seq_dot(M[ik], M[jk]) / (sn[ik] * sn[jk])
        a, b = ids[ik], ids[jk]
        swap = b < a
        return pd.DataFrame(
            {
                "id_a": np.where(swap, b, a),
                "id_b": np.where(swap, a, b),
                "cosine": sc,
            }
        )

    cands = capped.groupBy("_cluster").applyInPandas(
        block, schema=f"id_a {id_dt}, id_b {id_dt}, cosine double"
    )
    dups = (
        cands.select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("_cos"))
        .filter(F.col("_cos") >= threshold)
    )
    per_row = dups.groupBy(F.col("id_b").alias("_id")).agg(
        F.count("*").cast("long").alias("n_lower_dups"),
        F.max("_cos").alias("max_cos_lower"),
    )
    return (
        base.join(per_row, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cluster").alias("cluster"),
            F.coalesce("n_lower_dups", F.lit(0)).cast("long").alias("n_lower_dups"),
            (F.coalesce("n_lower_dups", F.lit(0)) > 0).cast("int").alias("dropped"),
            F.coalesce("max_cos_lower", F.lit(-1.0)).alias("max_cos_lower"),
        )
    )


def minhash_incremental_dups(
    corpus: DataFrame,
    batch: DataFrame,
    content_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    corpus_buckets: DataFrame | None = None,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: every near-dup pair INVOLVING the
    new ``batch`` — batch-vs-corpus and batch-vs-batch — without ever
    re-pairing the corpus against itself.

    This is the shape that keeps a 100 TB corpus deduplicated: daily
    ingest must not re-run the all-corpus self-join (whose candidate
    mass is corpus-sized) when only the batch changed.  The candidate
    join's predicate ``(new_a OR new_b)`` drops every corpus×corpus
    bucket pair BEFORE verification, so candidate work is proportional
    to batch bucket occupancy, not corpus pair mass.  In production the
    corpus side of the join is the PERSISTED signature/bucket table
    (written once, `bucketBy("bucket")` so the corpus never re-shuffles
    or re-shingles — only the batch pays signature computation); here it
    is recomputed from the corpus DataFrame because the gate owns no
    storage, which only *overstates* the incremental cost.

    ``corpus`` and ``batch`` must have disjoint ids (the ingest
    contract).  Same output columns and verify semantics as
    :func:`minhash_lsh_dups` — the exact-Jaccard check makes emitted
    VALUES independent of bucketing; restricted to pairs with a batch
    member.  The hot-bucket cap applies to the COMBINED occupancy
    (a batch landing in an already-hot corpus bucket is exactly when
    the guard matters); pass ``None`` for the complete-pairs contract.

    ``corpus_buckets``/``batch_buckets``: precomputed
    :func:`minhash_buckets` tables — in production the corpus one IS the
    persisted signature table described above; per-doc independence
    means both can be ``_id`` filters of one corpus-wide table.
    """
    if corpus_buckets is None:
        corpus_buckets = minhash_buckets(
            corpus, content_col, id_col, k, num_hashes, bands
        )
    if batch_buckets is None:
        batch_buckets = minhash_buckets(
            batch, content_col, id_col, k, num_hashes, bands
        )
    corpus_b = corpus_buckets.withColumn("_new", F.lit(False))
    batch_b = batch_buckets.withColumn("_new", F.lit(True))
    buckets = _cap_hot_buckets(
        corpus_b.unionByName(batch_b), ["bucket"], max_bucket_size
    )

    a = buckets.select(
        F.col("_id").alias("id_a"), F.col("_new").alias("new_a"), "bucket"
    )
    b_ = buckets.select(
        F.col("_id").alias("id_b"), F.col("_new").alias("new_b"), "bucket"
    )
    cand = (
        # same SMJ pin as fuzzy.set_similarity_pairs: both exploded sides
        # are data-sized but Catalyst estimates them from pre-explode
        # stats and can pick a driver-fatal broadcast at scale
        a.hint("merge").join(b_, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("new_a") | F.col("new_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    fps = buckets.select("_id", "_fp").dropDuplicates(["_id"])
    return _verify_fingerprints(cand, fps, threshold)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: Column | str,
    id_col: str,
    window: int = 8,
    content_col: str | None = None,
    k: int = 3,
) -> DataFrame:
    """Sorted-neighborhood entity blocking (Hernández–Stolfo): order the
    corpus by a blocking key and emit every pair within ``window`` ranks
    — the classic ER complement to content-hash LSH (it catches
    near-dups that *sort together* — shared prefixes, zero-padded ids,
    boilerplate headers — without any shingling), multi-pass by calling
    once per key and unioning.

    Returns ``(id_a, id_b, rank_dist)`` (ids in ascending order, 1 ≤
    rank_dist < window); with ``content_col`` given, exact distinct
    ``k``-shingle overlap rides along as ``(inter, n_union, jaccard)``
    for threshold filtering by the caller — the verify arrays travel
    WITH the rows, so verification adds no extra join.

    Scale shape — candidate mass is EXACTLY ≤ (window−1)·N, by
    construction, and no step is quadratic:

    1. global rank without a single-task sort: ``repartitionByRange``
       on ``(key, id)`` + per-partition offsets (the two-phase scan of
       `pipeline.global_shuffle`); the offsets table is one row per
       partition, broadcast.
    2. pairing is an EQUI-join on ``bucket = rank div window``: the
       right side re-keys each record to its own and its previous
       bucket (2 rows), so every ≤window-apart pair meets exactly once
       and no task ever sees more than ~2·window·(bucket count in its
       partitions) candidates.  A hot blocking key cannot explode the
       join — identical keys still occupy distinct ranks.
    """
    sel = [F.col(id_col).alias("_id"), F.col(key_col).alias("_key")] if isinstance(
        key_col, str
    ) else [F.col(id_col).alias("_id"), key_col.alias("_key")]
    if content_col is not None:
        # carry the raw text through the range exchange and shingle AFTER
        # it: the walk then runs across the range partitions instead of
        # inside the (possibly one-task) scan stage, and the exchange
        # ships text instead of the wider shingle arrays (guide §2.3)
        sel.append(F.col(content_col).alias("_c"))
    base = df.select(*sel)

    # ranked feeds BOTH the partition-size aggregate and the offset
    # join; positioned feeds BOTH join sides.  Catalyst shares no common
    # subplans, so without materialization the corpus is scanned 4× and
    # the rank window computed twice — the lazy localCheckpoints pin
    # each stage exactly once (executor-side, lineage truncated,
    # released with these frames; the kmv/hilbert-gate argument).
    ranked = base.repartitionByRange(
        F.col("_key").asc(), F.col("_id").asc()
    ).withColumn("_pid", F.spark_partition_id())
    if content_col is not None:
        ranked = ranked.withColumn(
            "_sh", F.array_distinct(word_shingles("_c", k))
        ).drop("_c")
    ranked = ranked.localCheckpoint(eager=False)
    sizes = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = Window.partitionBy("_pid").orderBy(
        F.col("_key").asc(), F.col("_id").asc()
    )
    pos = (F.col("_offset") + F.row_number().over(w_in) - 1).cast("long")
    positioned = (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn("_pos", pos)
        .drop("_pid", "_offset", "_key")
        .localCheckpoint(eager=False)
    )

    bucket = (F.col("_pos") - F.col("_pos") % window) / window
    x = positioned.select(
        F.col("_id").alias("_idx"),
        F.col("_pos").alias("_px"),
        bucket.cast("long").alias("_b"),
        *([F.col("_sh").alias("_shx")] if content_col is not None else []),
    )
    y = positioned.select(
        F.col("_id").alias("_idy"),
        F.col("_pos").alias("_py"),
        F.explode(
            F.array(
                bucket.cast("long"), bucket.cast("long") - 1
            )
        ).alias("_b"),
        *([F.col("_sh").alias("_shy")] if content_col is not None else []),
    )
    pairs = (
        x.join(y, "_b")
        .filter(
            (F.col("_py") - F.col("_px") >= 1)
            & (F.col("_py") - F.col("_px") <= window - 1)
        )
        .withColumn("rank_dist", (F.col("_py") - F.col("_px")).cast("long"))
    )
    out_cols = [
        F.least("_idx", "_idy").alias("id_a"),
        F.greatest("_idx", "_idy").alias("id_b"),
        "rank_dist",
    ]
    if content_col is None:
        return pairs.select(*out_cols)
    inter = F.size(F.array_intersect(F.col("_shx"), F.col("_shy")))
    union = F.size("_shx") + F.size("_shy") - inter
    return pairs.select(
        *out_cols,
        inter.cast("long").alias("inter"),
        union.cast("long").alias("n_union"),
        (inter.cast("double") / union).alias("jaccard"),
    )


def paragraph_dedup_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    units: Column | None = None,
    normalize: bool = True,
    join_sep: str = " ",
) -> DataFrame:
    """Global paragraph/line-level exact dedup: keep only the FIRST
    occurrence (ordered by ``(id, position)``) of each distinct unit
    across the ENTIRE corpus, and re-emit each document with its
    surviving units rejoined in original order.

    This is the CCNet paragraph-dedup pass (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — SHA1-hash paragraphs, drop every later occurrence) and the
    batch form of Dolma's Bloom-filter paragraph dedup (Soldaini et al.
    2024).  It removes boilerplate (headers, navigation, license
    blocks) that document-level dedup can't see, and complements
    :func:`substring_dup_spans` (which flags *overlapping* k-token
    windows; this dedups *aligned* units).

    ``units`` overrides the default ``split(text, sep)`` with any
    array<string> expression over the row (the gates use fixed-width
    word windows because the synthetic corpus is single-line).
    ``normalize`` hashes ``lower(trim(unit))`` — the dedup key — while
    the emitted text keeps the original spelling.

    Returns ``(id, n_units, n_kept, kept_text)`` for every document
    with ≥1 non-empty unit.

    Plan shape (all shuffles linear in corpus unit count):
    1. units posexplode to ``(id, pos, unit, h=md5(norm))`` — a narrow
       map, pinned with a lazy localCheckpoint so the explode subtree
       runs ONCE (it feeds both the firsts aggregate and the join-back);
    2. first-occurrence = groupBy(h).min(struct(id, pos)) — ONE shuffle
       on the 16-byte hash.  The groupBy form (not a window) is chosen
       deliberately: min(struct) combines map-side, so a boilerplate
       unit occurring 10^9 times collapses to one row per map task
       instead of landing a 10^9-row window partition on one reducer;
    3. join back on h (AQE splits any residual hot hash — it is a join,
       not a window) + per-doc groupBy to rejoin survivors in order.
    """
    unit_expr = units if units is not None else F.split(F.col(text_col), sep)
    # spread the (possibly single-split) scan BEFORE the unit expansion:
    # the window-walk / split + posexplode + md5 otherwise all run inside
    # a one-task scan stage (session.fan_out — a no-op once the scan has
    # real splits); the exchange ships raw doc rows, units compute after
    ex = (
        fan_out(df, id_col)
        .select(F.col(id_col).alias("_id"), unit_expr.alias("_us"))
        .select(
            "_id",
            F.posexplode(
                F.filter(F.col("_us"), lambda u: F.trim(u) != "")
            ).alias("_pos", "_u"),
        )
        .withColumn(
            "_h",
            F.md5(F.lower(F.trim(F.col("_u"))) if normalize else F.col("_u")),
        )
        .localCheckpoint(eager=False)
    )
    firsts = ex.groupBy("_h").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first")
    )
    flagged = ex.join(firsts, "_h").withColumn(
        "_kept",
        (F.col("_id") == F.col("_first._id"))
        & (F.col("_pos") == F.col("_first._pos")),
    )
    return (
        flagged.groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum(F.col("_kept").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_kept"),
                                F.struct(F.col("_pos"), F.col("_u")),
                            )
                        )
                    ),
                    lambda s: s["_u"],
                ),
                join_sep,
            ).alias("kept_text"),
        )
        .withColumnRenamed("_id", id_col)
    )


def paragraph_dedup_incremental(
    batch: DataFrame,
    store: DataFrame | None = None,
    store_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    units: Column | None = None,
    normalize: bool = True,
    join_sep: str = " ",
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Incremental paragraph dedup: clean a NEW batch of documents
    against an already-accepted corpus ``store`` — the daily-ingest form
    of :func:`paragraph_dedup_global` and the exact batch analogue of
    Dolma's Bloom-filter dedup (Soldaini et al. 2024, "Dolma": a
    paragraph is dropped if it was ever seen before).  A batch unit is
    kept iff it is the first occurrence WITHIN the batch (same
    ``(id, pos)`` order as the global pass) AND its normalized hash does
    not appear anywhere in the store.

    Output is EXACT w.r.t. 64-bit hash membership: the Bloom tier adds
    no error (no false negatives → probe + exact-verify of the positives
    reproduces set membership bit-for-bit), but the dedup key itself is
    ``xxhash64(norm(unit))`` — at very large store sizes a birthday
    collision between a store hash and a unique batch unit silently
    drops real content (the global pass uses 128-bit md5 and has no such
    caveat; widen here too if a deployment's unit count warrants it).
    Returns ``(id, n_units, n_kept, kept_text)`` over the batch.

    Scale shape — the 100 TB store is NEVER shuffled by this operator:
    1. store unit hashes (pass ``store_hashes`` — a maintained
       ``(uh long)`` table, the pattern the streaming ingest filters
       persist — or let the operator derive them from ``store`` with one
       narrow explode + a map-side-combining distinct);
    2. a fixed ``m_bits/8``-byte Bloom bitmap over those hashes
       broadcasts to every executor; batch units probe it map-side
       (zero shuffle of the batch);
    3. only the Bloom-POSITIVE distinct batch hashes (true dups + FP
       residue, a tiny set) broadcast back against the store hash table
       for the exact verify — the store side is scanned, filtered by
       the broadcast, and only the matched hashes (≤ positives) leave
       the scan.
    """
    if (store is None) == (store_hashes is None):
        raise ValueError("pass exactly one of store / store_hashes")
    from qdrant_datafusion_spark.operators.pipeline import (
        bloom_bitmap,
        bloom_probe,
    )

    unit_expr = units if units is not None else F.split(F.col(text_col), sep)

    def _norm(u: Column) -> Column:
        return F.lower(F.trim(u)) if normalize else u

    if store_hashes is None:
        # fan_out before the explode: the store's window-walk + xxhash
        # otherwise runs in its one-task scan stage.  Keyed on the text
        # column alone when the default unit split applies (the store
        # carries no id contract; deterministic either way) — hashing
        # EVERY store column would throw on non-hashable types (MapType)
        # the walk never reads (r13 ADVICE).  Custom ``units``
        # expressions fall back to the full row since their inputs are
        # opaque here.  Measured at sf0.1: 1.2-1.7s -> 0.7-0.9s.
        spread_keys = (
            [text_col]
            if units is None and text_col in store.columns
            else store.columns
        )
        store_hashes = (
            fan_out(store, *spread_keys)
            .select(F.explode(unit_expr).alias("_u"))
            .filter(F.trim("_u") != "")
            .select(F.xxhash64(_norm(F.col("_u"))).alias("uh"))
            .distinct()
        )
    store_hashes = store_hashes.select(F.col("uh").alias("_uh"))

    ex = (
        fan_out(batch, id_col)
        .select(F.col(id_col).alias("_id"), unit_expr.alias("_us"))
        .select(
            "_id",
            F.posexplode(
                F.filter(F.col("_us"), lambda u: F.trim(u) != "")
            ).alias("_pos", "_u"),
        )
        .withColumn("_uh", F.xxhash64(_norm(F.col("_u"))))
        .localCheckpoint(eager=False)
    )
    firsts = ex.groupBy("_uh").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first")
    )
    flagged = ex.join(firsts, "_uh").withColumn(
        "_is_first",
        (F.col("_id") == F.col("_first._id"))
        & (F.col("_pos") == F.col("_first._pos")),
    )

    bitmap = bloom_bitmap(store_hashes.withColumnRenamed("_uh", "uh"),
                          "uh", m_bits, num_hashes)
    cand = bloom_probe(
        flagged.select("_uh").distinct(), bitmap, "_uh", m_bits, num_hashes
    )
    matched = (
        store_hashes.join(F.broadcast(cand), "_uh")
        .select("_uh")
        .distinct()
        .withColumn("_in_store", F.lit(True))
    )
    out = flagged.join(F.broadcast(matched), "_uh", "left").withColumn(
        "_kept",
        F.col("_is_first") & F.col("_in_store").isNull(),
    )
    return (
        out.groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum(F.col("_kept").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_kept"),
                                F.struct(F.col("_pos"), F.col("_u")),
                            )
                        )
                    ),
                    lambda s: s["_u"],
                ),
                join_sep,
            ).alias("kept_text"),
        )
        .withColumnRenamed("_id", id_col)
    )
