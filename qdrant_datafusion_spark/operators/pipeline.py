"""Dataset-assembly operators for LLM training-data pipelines.

The dedup/ANN/quantize modules cover *filtering*; this module covers the
remaining assembly stages a 100 TB corpus pipeline needs:

- ``hash_split``       — deterministic train/val/test assignment keyed on
                         content id (md5), not row position.  A narrow map:
                         no shuffle, stable under repartitioning, and the
                         same document lands in the same split on every
                         engine and every run.
- ``decontaminate``    — benchmark n-gram decontamination: flag corpus
                         documents sharing ≥ ``min_hits`` distinct k-word
                         shingles with a benchmark set.  The benchmark
                         shingle set is broadcast (benchmarks are MBs; the
                         corpus is the 100 TB side, which is never
                         shuffled — one explode + map-side hash join +
                         per-doc partial agg).
- ``repetition_stats`` — Gopher-style repetition quality signals
                         (duplicate-token / duplicate-line fraction, top
                         bigram/trigram share) computed as a single narrow
                         projection — no explode, no shuffle; the max-run
                         scan over the sorted n-gram array is a linear
                         fold per row.
- ``pack_sequences``   — token-budget sequence packing (greedy first-fit
                         in id order within a hash bucket).  One shuffle
                         on the bucket key; each bucket packs
                         independently, so parallelism = ``num_buckets``
                         and the 100 TB knob is simply more buckets.

Everything except the per-bucket packing loop is native Column code; all
four operators have exact DuckDB oracles (see entry_queries/pipeline.py).
"""

from __future__ import annotations

from typing import Iterable, Mapping

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as SqlWindow

from qdrant_datafusion_spark.functions.text import token_count, tokens, word_shingles
from qdrant_datafusion_spark.session import fan_out

__all__ = [
    "quantile_normalize",
    "source_cap",
    "hash_split",
    "decontaminate",
    "repetition_stats",
    "pack_sequences",
    "mix_datasets",
    "stratified_sample",
    "quality_percentile_filter",
    "chunk_documents",
    "profile_columns",
    "token_budget_select",
    "decontaminate_bloom",
    "bloom_bitmap",
    "bloom_probe",
    "lm_perplexity",
    "temperature_rates",
    "global_shuffle",
    "dsir_select",
    "weighted_sample",
]


# ---------------------------------------------------------------------------
# hash_split
# ---------------------------------------------------------------------------

def split_thresholds(weights: Mapping[str, float]) -> list[tuple[str, str]]:
    """(name, upper-bound-hex) pairs over the first 8 md5 hex chars.

    Lexicographic order on fixed-width lowercase hex equals numeric order
    on the 32-bit prefix, so the split is expressible identically in any
    engine that has md5 — no bigint parsing needed.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive number")
    out: list[tuple[str, str]] = []
    cum = 0.0
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"negative split weight for {name!r}")
        cum += w / total
        out.append((name, format(min(int(cum * 2**32), 2**32 - 1), "08x")))
    return out


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Mapping[str, float] | None = None,
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split, deterministically, by content id.

    ``split = first bucket whose cumulative bound exceeds the 32-bit md5
    prefix of "<id>:<seed>"``.  Position-independent (a re-sorted or
    re-partitioned corpus gets identical assignments) and engine-portable
    (md5 of the same string is the same everywhere).  Changing ``seed``
    re-rolls the assignment wholesale.

    Scale: a narrow projection — zero shuffles, codegen'd md5 + CASE.
    """
    weights = dict(weights or {"train": 0.9, "val": 0.05, "test": 0.05})
    bounds = split_thresholds(weights)
    key = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))), 1, 8
    )
    expr: Column = F.lit(bounds[-1][0])  # final bucket catches the remainder
    assign = None
    for name, hi in bounds[:-1]:
        cond = key < F.lit(hi)
        assign = F.when(cond, name) if assign is None else assign.when(cond, name)
    expr = assign.otherwise(bounds[-1][0]) if assign is not None else expr
    return df.withColumn(out_col, expr)


def group_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: Mapping[str, float] | None = None,
    seed: str = "split",
    out_col: str = "split",
    group_col: str = "group_id",
) -> DataFrame:
    """Leakage-safe split: every near-dup cluster lands WHOLE in one split.

    :func:`hash_split` keys the assignment on the document's own id, so
    two near-duplicate documents can straddle the train/test boundary —
    the classic eval-leakage bug (the test answer sits in the training
    set, lightly reworded).  This variant computes connected components
    over the supplied near-dup ``pairs`` (``dedup.dup_clusters``
    min-label propagation) and keys the SAME md5 assignment on the
    component representative (min member id), so every member of a dup
    cluster inherits one split.  Documents with no near-dup keep their
    own id as representative — the assignment is identical to
    :func:`hash_split` wherever leakage is impossible, and changing
    ``seed`` re-rolls both functions in lockstep.

    Returns ``df`` plus ``group_col`` (the representative id, LONG) and
    ``out_col`` (the split name).

    Scale: components cost O(log diameter) join+agg rounds over the
    PAIR table only (near-dup pairs are a small fraction of a 100 TB
    corpus); the final attach is one equi-join of the corpus against the
    (id, cluster_id) map — the map holds only docs with ≥1 near-dup, so
    AQE broadcasts it when small and shuffle-joins on id otherwise; the
    split expression itself is a codegen'd md5 + CASE, zero extra
    shuffles.
    """
    from .dedup import dup_clusters

    clusters = dup_clusters(pairs).select(
        F.col("id").alias("_gs_id"), F.col("cluster_id").alias("_gs_rep")
    )
    base = (
        df.join(clusters, df[id_col] == F.col("_gs_id"), "left")
        .withColumn(
            group_col,
            F.coalesce(F.col("_gs_rep"), F.col(id_col)).cast("long"),
        )
        .drop("_gs_id", "_gs_rep")
    )
    return hash_split(base, group_col, weights, seed=seed, out_col=out_col)


# ---------------------------------------------------------------------------
# mix_datasets
# ---------------------------------------------------------------------------

def mix_datasets(
    df: DataFrame,
    weights: Mapping[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Weighted dataset mixing: resample each source at its mixture rate
    (the "2 epochs of wiki, 0.3 of web-crawl" stage of corpus assembly).

    A rate ``w`` emits ``floor(w)`` guaranteed copies of every row plus
    one more with probability ``frac(w)`` — decided by the same md5-prefix
    coin as :func:`hash_split`, so the expected token share per source is
    exact and the realized sample is deterministic, position-independent,
    and engine-portable.  Sources absent from ``weights`` are dropped
    (rate 0 — explicit weights only, no silent passthrough).  Output rows
    carry ``copy_col`` (1-based) so downstream shuffles spread repeated
    ids.

    Scale: a narrow projection + explode — zero shuffles; the only data
    growth is the intended upsampling itself.
    """
    rates = {s: float(w) for s, w in weights.items()}
    if any(w < 0 for w in rates.values()):
        raise ValueError("mixture weights must be non-negative")
    key = F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))), 1, 8
    )
    base = F.lit(0)
    extra_hex = F.lit("00000000")
    for s, w in rates.items():
        whole, frac = int(w), w - int(w)
        base = F.when(F.col(source_col) == s, whole).otherwise(base)
        extra_hex = F.when(
            F.col(source_col) == s,
            format(min(int(frac * 2**32), 2**32 - 1), "08x"),
        ).otherwise(extra_hex)
    n_copies = base + (key < extra_hex).cast("int")
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(1), F.greatest(n_copies, F.lit(1)))
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn(copy_col, F.explode(copies))


def mix_oracle_sql(
    weights: Mapping[str, float],
    table: str = "documents",
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
    copy_col: str = "copy_idx",
    columns: str = "doc_id, source",
) -> str:
    """DuckDB SQL computing exactly :func:`mix_datasets` (shared md5 coin)."""
    whole_whens = " ".join(
        f"WHEN '{s}' THEN {int(w)}" for s, w in weights.items()
    )
    hex_whens = " ".join(
        f"WHEN '{s}' THEN '{format(min(int((w - int(w)) * 2**32), 2**32 - 1), '08x')}'"
        for s, w in weights.items()
    )
    return f"""
WITH base AS (
  SELECT *,
         substr(md5({id_col}::VARCHAR || ':' || '{seed}'), 1, 8) AS h,
         CASE {source_col} {whole_whens} ELSE 0 END
         + CASE WHEN substr(md5({id_col}::VARCHAR || ':' || '{seed}'), 1, 8)
                     < CASE {source_col} {hex_whens} ELSE '00000000' END
                THEN 1 ELSE 0 END AS n
  FROM {table}
)
SELECT {columns}, t.c::INTEGER AS {copy_col}
FROM base, unnest(generate_series(1, n)) t(c)
WHERE n > 0
"""


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Per-document benchmark-overlap counts for n-gram decontamination.

    Returns ``(id, n_shingles, hits, contaminated)`` where ``hits`` is the
    number of the document's *distinct* k-word shingles that also occur
    anywhere in the benchmark set, and ``contaminated = hits >= min_hits``.
    Callers drop contaminated docs (anti-join or filter) before training.

    Scale: the benchmark side (eval sets — MBs, not TBs) collapses to a
    distinct 64-bit shingle-hash set and is broadcast; the corpus side is
    one explode + broadcast hash join + partial count per doc — the 100 TB
    side is never shuffled on shingles.  Joining on ``xxhash64`` keeps the
    broadcast 8 bytes/shingle (collisions at eval-set cardinality are
    ~2^-40 — and only ever *add* a hit).
    """
    bench_sh = (
        benchmark.select(F.explode(word_shingles(text_col, k)).alias("sh"))
        .select(F.xxhash64("sh").alias("shh"))
        .distinct()
    )
    # fan_out: both shingle walks (the explode and the size) otherwise
    # run in the one-task scan stage (session.fan_out); sharing one
    # spread frame also lets the exchange be reused by both readers
    spread = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
    doc_sh = spread.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("sh")
    ).select(id_col, F.xxhash64("sh").alias("shh"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shh")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("hits"))
    )
    totals = spread.select(
        F.col(id_col), F.size(word_shingles(text_col, k)).cast("long").alias("n_shingles")
    )
    return (
        totals.join(hits, id_col, "left")
        .withColumn("hits", F.coalesce("hits", F.lit(0).cast("long")))
        .withColumn("contaminated", F.col("hits") >= min_hits)
    )


# ---------------------------------------------------------------------------
# stratified_sample / quality_percentile_filter
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    by: str = "source",
    n_per_group: int = 100,
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Exactly ``min(n, |group|)`` rows per group, chosen by md5 rank —
    the deterministic replacement for ``ORDER BY random() LIMIT n`` per
    stratum (eval-set carving, per-source caps, debug slices).  The
    md5-of-id ordering is a fixed uniform permutation: re-running, re-
    partitioning, or re-sorting the input selects the same rows; a new
    ``seed`` re-deals.

    Scale: one shuffle on the group key; rank-within-group is a window
    over that partitioning (no global sort).  Groups far larger than
    ``n`` still shuffle fully — for extreme skew pre-filter with an
    approximate per-group threshold; documented trade, not a silent cap.
    """
    from pyspark.sql import Window

    rank_key = F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
    )
    w = Window.partitionBy(by).orderBy(rank_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def quality_percentile_filter(
    df: DataFrame,
    score_col: str,
    by: str = "source",
    keep_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each group's top ``keep_frac`` of rows by score (per-source
    quality gating: "drop the worst half of every crawl" — a *relative*
    cut, so one noisy source can't eat the global budget).

    ``percent_rank() <= keep_frac`` over (group, score desc, id) — the id
    tiebreak makes the boundary deterministic.  Same single-shuffle shape
    as :func:`stratified_sample`.
    """
    from pyspark.sql import Window

    if not 0.0 <= keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in [0, 1], got {keep_frac}")
    w = Window.partitionBy(by).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") <= keep_frac)
        .drop("__pr")
    )


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------

def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array — i.e. the
    max multiplicity of any value — as a linear fold (no explode, no
    shuffle, no second pass)."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def _ngrams(toks: Column, n: int) -> Column:
    """All (non-distinct) n-word grams of a token array, in order."""
    cnt = F.size(toks) - F.lit(n - 1)
    return F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document.

    ``(id, n_tokens, dup_token_frac, top_bigram_frac, top_trigram_frac,
    dup_line_frac)`` — the standard "repetitious document" quality gates:
    a doc whose single most common bigram covers a large share of the text,
    or whose lines repeat, is boilerplate/spam.  Fractions are rounded to
    6 places (oracle-stable).

    Scale: one narrow projection.  The n-gram share needs a per-value max
    count, computed here as sort + linear run-length fold *inside the row*
    (`_max_run`) — the explode→groupBy(doc)→window alternative would
    shuffle the whole corpus on doc id twice.
    """
    toks = F.array(tokens(text_col))  # let-bind: tokenize once per row
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0), 6
        )

    stats = F.element_at(
        F.transform(
            toks,
            lambda t: F.struct(
                F.size(t).alias("n_tokens"),
                frac(F.size(t) - F.size(F.array_distinct(t)), F.size(t)).alias(
                    "dup_token_frac"
                ),
                frac(
                    _max_run(F.array_sort(_ngrams(t, 2))), F.size(_ngrams(t, 2))
                ).alias("top_bigram_frac"),
                frac(
                    _max_run(F.array_sort(_ngrams(t, 3))), F.size(_ngrams(t, 3))
                ).alias("top_trigram_frac"),
            ),
        ),
        1,
    )
    line_stats = F.element_at(
        F.transform(
            F.array(lines),
            lambda ls: frac(F.size(ls) - F.size(F.array_distinct(ls)), F.size(ls)),
        ),
        1,
    )
    return df.select(
        F.col(id_col),
        stats["n_tokens"].alias("n_tokens"),
        stats["dup_token_frac"].alias("dup_token_frac"),
        stats["top_bigram_frac"].alias("top_bigram_frac"),
        stats["top_trigram_frac"].alias("top_trigram_frac"),
        line_stats.alias("dup_line_frac"),
    )


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    num_buckets: int = 8,
    tokens_col: str | None = None,
) -> DataFrame:
    """Greedy token-budget sequence packing (the pre-tokenization step of
    LLM batch assembly): within each hash bucket, walk documents in id
    order and append to the current pack while it fits; start a new pack
    when adding the next document would exceed ``budget``.  A document
    larger than the whole budget gets a pack to itself.

    Returns ``(id, bucket, pack_id, n_tokens)`` — ``(bucket, pack_id)`` is
    the global pack key.  Deterministic: bucket is ``id % num_buckets``
    for numeric ids (md5-prefix mod for string/uuid ids) and order within
    a bucket is id order (lexicographic for strings), so the same corpus
    packs the same way everywhere (exact DuckDB oracle via a recursive
    CTE for the numeric-id case).

    Scale: ONE shuffle, on the bucket key; each bucket packs independently
    in a single `applyInPandas` pass (a cheap cumulative scan — the loop is
    per-row Python but does integer adds only).  Parallelism and per-task
    memory are both set by ``num_buckets``: size it so a bucket's
    (id, n_tokens) pairs — ~16 bytes/doc, the text never enters the
    shuffle — fit an executor.  1e12 docs / 1e5 buckets = 160 MB/bucket.
    """
    from pyspark.sql import types as T

    # NULL text / NULL token counts pack as 0 tokens: the row stays in the
    # output map (auditable — a silent drop would desync any id-aligned
    # join downstream) but consumes no budget.  Without the coalesce the
    # NaN reaches the per-bucket int() and kills the whole task.
    n_tok = F.coalesce(
        (
            F.col(tokens_col)
            if tokens_col
            else token_count(text_col, "whitespace")
        ).cast("long"),
        F.lit(0),
    )
    # numeric ids bucket by value (portable to the SQL oracle); string /
    # uuid point ids — the collection schema's canonical id type — bucket
    # by their 32-bit md5 prefix (ANSI mode would throw on a string→long
    # cast)
    id_type = df.schema[id_col].dataType
    if isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        bucket = F.pmod(F.col(id_col).cast("long"), F.lit(num_buckets))
    else:
        prefix = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        bucket = F.pmod(prefix, F.lit(num_buckets))
    slim = df.select(
        F.col(id_col),
        bucket.cast("int").alias("bucket"),
        n_tok.alias("n_tokens"),
    )
    id_type = slim.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, bucket int, pack_id int, n_tokens long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        pack_ids = []
        pack_id, fill = 0, 0
        first = True
        for tok in pdf["n_tokens"]:
            tok = int(tok)
            if first:
                fill = tok
                first = False
            elif fill + tok > budget:
                pack_id += 1
                fill = tok
            else:
                fill += tok
            pack_ids.append(pack_id)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int32")
        return pdf[[id_col, "bucket", "pack_id", "n_tokens"]]

    return slim.groupBy("bucket").applyInPandas(pack, schema=out_schema)


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 40,
    overlap: int = 10,
) -> DataFrame:
    """Sliding-window token chunking — the context-window fitting step of
    LLM corpus prep (and of RAG indexing): split each document's
    whitespace tokens into windows of ``chunk_size`` tokens that advance
    by ``chunk_size - overlap``, so consecutive chunks share ``overlap``
    tokens.  The final window may be shorter; a window that would be
    entirely contained in its predecessor (tail shorter than the
    advance) is not emitted, matching the standard ``while start < n:
    emit; if start + size >= n: break`` chunker loop.

    Returns ``(id, chunk_id, n_tokens, chunk_hash)`` with
    ``chunk_hash = md5(space-joined window)`` — the hash stands in for
    the chunk text so the gate compares content without shipping it.

    Scale: a narrow projection + one ``explode`` of the start offsets —
    no shuffle, no UDF; output rows ≈ docs × (doc_tokens / advance), and
    each task chunks only its own partition.  The token array lives only
    inside the projection (never shuffled).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .withColumn("_n", F.size("_toks"))
        .filter(F.col("_n") > 0)
    )
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(step))
    ex = base.select(F.col(id_col), "_toks", "_n", F.explode(starts).alias("_start"))
    # a start > 0 is emitted only if the previous window did not already
    # cover the end of the document
    keep = (F.col("_start") == 0) | (F.col("_start") - step + chunk_size < F.col("_n"))
    window = F.slice(F.col("_toks"), F.col("_start") + 1, F.lit(chunk_size))
    return ex.filter(keep).select(
        F.col(id_col),
        (F.col("_start") / step).cast("int").alias("chunk_id"),
        F.least(F.lit(chunk_size), F.col("_n") - F.col("_start"))
        .cast("int")
        .alias("n_tokens"),
        F.md5(F.array_join(window, " ")).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# token_budget_select — distributed prefix sum without a global sort
# ---------------------------------------------------------------------------

def token_budget_select(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 12_000,
    seed: int = 42,
    bucket_chars: int = 2,
    tokens_col: str | None = None,
) -> DataFrame:
    """Select a token-budget prefix of the corpus in deterministic
    shuffled order — "give me the first N training tokens" — via a
    DISTRIBUTED PREFIX SUM, not a global sort.

    Order is ``md5(id:seed)``: engine-independent, uniform, and stable
    (the same corpus yields the same prefix everywhere — the property a
    resumable training run needs).  The cumulative token count in that
    order decides the cut: a document stays while the running total
    (inclusive) is ≤ ``budget``.

    Scale — the naive form is ``SUM(...) OVER (ORDER BY key)``, a global
    single-partition sort.  This implementation is the classic two-phase
    scan instead:

    1. coarse bucket = first ``bucket_chars`` hex chars of the key
       (16^bucket_chars buckets — 256 at the default); per-bucket token
       totals are one tiny aggregate (≤256 rows),
    2. each bucket's global offset = running total of the buckets before
       it (a window over the ≤256-row totals frame — single partition by
       construction and trivially small),
    3. offsets broadcast back; the within-bucket cumulative sum is a
       window partitioned BY BUCKET, so no task ever sorts more than
       ~N/256 rows.  More scale → more ``bucket_chars``.

    The md5-prefix bucket is ALSO the key's most-significant digits, so
    bucket order == key order and offset + within-bucket cumsum == the
    exact global cumsum.
    """
    key = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    n_tok = (
        F.col(tokens_col) if tokens_col else token_count(text_col, "whitespace")
    ).cast("long")
    keyed = df.select(
        F.col(id_col),
        key.alias("_key"),
        F.substring(key, 1, bucket_chars).alias("_bucket"),
        n_tok.alias("n_tokens"),
    )
    totals = keyed.groupBy("_bucket").agg(F.sum("n_tokens").alias("_bucket_total"))
    # ≤ 16^bucket_chars rows: the unpartitioned window below is a
    # deliberate single-partition sort of a few hundred rows, not of data
    w_off = (
        SqlWindow.partitionBy(F.lit(0))
        .orderBy("_bucket")
        .rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_total").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = (
        SqlWindow.partitionBy("_bucket")
        .orderBy("_key")
        .rowsBetween(SqlWindow.unboundedPreceding, SqlWindow.currentRow)
    )
    cum = (
        keyed.join(F.broadcast(offsets), "_bucket")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            (F.col("_offset") + F.sum("n_tokens").over(w_in)).alias("cum_tokens"),
        )
    )
    return cum.filter(F.col("cum_tokens") <= budget)


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    bucket_chars: int = 2,
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle — the training-order randomization
    step (every epoch of a data loader wants the corpus in a reproducible
    pseudo-random permutation, NOT file order, which is correlated with
    crawl time / source / quality).

    Order is ``md5(id:seed)``: engine-independent, uniform, and stable —
    the same corpus enumerates identically on any cluster layout, which
    is what makes a training run resumable and an ablation comparable.
    Returns the input columns plus ``pos_col`` = the 0-based global
    position in that order.

    Scale — a global ``row_number()`` window is a single-partition sort
    of the whole corpus.  This uses the same two-phase distributed scan
    as :func:`token_budget_select`: the md5 prefix (``bucket_chars`` hex
    chars, 256 buckets at the default) is both a balanced partition key
    AND the key's most-significant digits, so bucket order == key order;
    per-bucket counts make a ≤256-row offset table (tiny driver-free
    window), and position = bucket offset + within-bucket row_number —
    no task ever sorts more than ~N/256 rows.  More scale → more
    ``bucket_chars``.
    """
    key = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    keyed = df.select(
        "*",
        key.alias("_key"),
        F.substring(key, 1, bucket_chars).alias("_bucket"),
    )
    totals = keyed.groupBy("_bucket").agg(F.count("*").alias("_bucket_n"))
    w_off = (
        SqlWindow.partitionBy(F.lit(0))
        .orderBy("_bucket")
        .rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_n").over(w_off), F.lit(0)).alias("_offset"),
    )
    w_in = SqlWindow.partitionBy("_bucket").orderBy("_key")
    return (
        keyed.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            pos_col,
            (F.col("_offset") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .drop("_key", "_bucket", "_offset")
    )


# ---------------------------------------------------------------------------
# decontaminate_bloom — Bloom-prefiltered decontamination (the 100×-eval-set
# scale path of `decontaminate`)
# ---------------------------------------------------------------------------

#: bitmaps at or under this size (2 MB) take the driver round-trip (one
#: literal DataFrame, zero cluster state); larger filters stay distributed
#: via localCheckpoint
_DRIVER_BITMAP_MAX_BITS = 1 << 24


def decontaminate_embedding(
    docs: DataFrame,
    benchmark: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic decontamination: flag corpus rows whose max cosine vs ANY
    benchmark embedding ≥ ``threshold`` — the paraphrase-robust sibling
    of :func:`decontaminate` (n-gram overlap misses reworded eval
    leakage; embedding similarity does not).

    Scale shape: the benchmark matrix is collected once and closed over
    by an Arrow-batched UDF (eval suites are small — ≤1M × 64 dims is
    256 MB; for larger suites prefilter with the ANN tier first), so
    each corpus partition scores with ONE BLAS GEMM per batch and the
    operator runs with ZERO shuffles — a mapPartitions-shaped plan that
    scales with corpus partitions alone.

    Determinism contract (same as the near-dup two-tier kernels): the
    GEMM picks candidates, then every candidate within 1e-9 of the batch
    max is re-scored with a TRUE left-to-right float64 loop (a Python
    fold — numpy's reductions use unrolled partial sums even for small
    n, which differ from a sequential oracle in ulps), so the emitted
    ``max_cosine`` is bit-identical to a sequential-loop oracle such as
    DuckDB's ``list_dot_product`` regardless of BLAS reassociation.  The
    exact tier touches only O(candidates · dim) elements per row.
    Unscorable rows (zero-norm vectors) emit NULL, never NaN — NaN
    compares ``>= threshold`` as true in Spark and would silently flag
    them contaminated.  Returns (id, max_cosine, contaminated).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def _seq_dot(x, y) -> float:
        acc = 0.0
        for a, b in zip(x, y):
            acc += a * b
        return acc

    bench_rows = [
        np.asarray(r[0], dtype=np.float64)
        for r in benchmark.select(vector_col).filter(
            F.col(vector_col).isNotNull()
        ).collect()
    ]
    if not bench_rows:
        raise ValueError("benchmark has no embeddings")
    B = np.stack(bench_rows)
    Bn = np.linalg.norm(B, axis=1)
    Bn[Bn == 0.0] = np.nan

    @pandas_udf("double")
    def max_cos(vs: pd.Series) -> pd.Series:
        # exact-tier benchmark rows are materialized LAZILY per index and
        # memoized: only B (one float64 ndarray) ships in the closure.  A
        # precomputed list-of-lists copy of B would multiply the per-worker
        # footprint several-fold in boxed floats (at the documented 1M x 64
        # ceiling: ~3-5 GB of Python objects vs B's 512 MB) for rows the
        # exact tier mostly never touches.
        b_cache: dict = {}

        def bench_exact(j: int):
            hit = b_cache.get(j)
            if hit is None:
                bl = B[j].tolist()
                hit = (bl, float(np.sqrt(_seq_dot(bl, bl))))
                b_cache[j] = hit
            return hit

        M = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        Mn = np.linalg.norm(M, axis=1)
        Mn[Mn == 0.0] = np.nan
        S = (M @ B.T) / np.outer(Mn, Bn)
        out = []
        for i in range(len(M)):
            row = S[i]
            approx = np.nanmax(row) if not np.all(np.isnan(row)) else np.nan
            if np.isnan(approx):
                out.append(None)
                continue
            cand = np.nonzero(row >= approx - 1e-9)[0]
            v = M[i].tolist()
            nv = float(np.sqrt(_seq_dot(v, v)))
            best = None
            for j in cand:
                bl, bn = bench_exact(int(j))
                c = _seq_dot(v, bl) / (nv * bn)
                if best is None or c > best:
                    best = c
            out.append(best)
        # object dtype so None survives as SQL NULL (a float64 Series
        # coerces None -> NaN, and NaN >= threshold is TRUE in Spark)
        return pd.Series(out, dtype="object")

    scored = docs.filter(F.col(vector_col).isNotNull()).select(
        F.col(id_col), max_cos(F.col(vector_col)).alias("max_cosine")
    )
    return scored.select(
        id_col,
        "max_cosine",
        (F.col("max_cosine") >= threshold).alias("contaminated"),
    )

def _bloom_pos(c: Column, i: int, m_bits: int) -> Column:
    """Bit position ``i`` of hash column ``c`` in an ``m_bits`` filter."""
    return F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits))


def bloom_bitmap(
    hashes: DataFrame, hash_col: str, m_bits: int, num_hashes: int
) -> DataFrame:
    """Bloom bitmap over a 64-bit hash column, as ≤ ``m_bits/64`` rows of
    ``(word_idx long, word long)``.

    Built as a ``bit_or`` aggregate (combinable — hot positions collapse
    map-side).  Small filters (≤ 2 MB bitmap) take one driver round-trip
    and return as a literal DataFrame so the upstream subtree runs
    exactly once and nothing stays cached past this call; larger filters
    stay DISTRIBUTED via an eager localCheckpoint (one materialization,
    truncated lineage, released with the DataFrame — no session-lifetime
    cache leak).  Downstream probes broadcast either form: executors
    hold one ``m_bits/8``-byte copy each, the standard Bloom trade.
    """
    bitmap_df = (
        hashes.select(
            F.explode(
                F.array(
                    *[
                        _bloom_pos(F.col(hash_col), i, m_bits)
                        for i in range(num_hashes)
                    ]
                )
            ).alias("_pos")
        )
        .select(
            F.floor(F.col("_pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(_pos, 64) as int))").alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
    )
    if m_bits <= _DRIVER_BITMAP_MAX_BITS:
        bitmap_words = bitmap_df.collect()
        return hashes.sparkSession.createDataFrame(
            [(int(r["word_idx"]), int(r["word"])) for r in bitmap_words],
            "word_idx long, word long",
        )
    return bitmap_df.localCheckpoint(eager=True)


def bloom_probe(
    cand: DataFrame,
    bitmap: DataFrame,
    hash_col: str,
    m_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Rows of ``cand`` whose ``hash_col`` tests POSITIVE in ``bitmap``
    (true members plus the false-positive residue — callers exact-verify
    the survivors, so results downstream stay exact).

    Each of the ``num_hashes`` probes is a broadcast join on the word
    index — map-side, zero shuffle of ``cand``.  Probe columns are
    dropped before returning.
    """
    for i in range(num_hashes):
        cand = cand.withColumn(
            f"_k{i}", _bloom_pos(F.col(hash_col), i, m_bits)
        )
    survive = None
    for i in range(num_hashes):
        w = bitmap.select(
            F.col("word_idx").alias(f"_wi{i}"), F.col("word").alias(f"_w{i}")
        )
        cand = cand.join(
            F.broadcast(w),
            F.floor(F.col(f"_k{i}") / 64).cast("long") == F.col(f"_wi{i}"),
            "left",
        )
        mask = F.expr(f"shiftleft(1L, cast(pmod(_k{i}, 64) as int))")
        hit = F.col(f"_w{i}").isNotNull() & (
            F.col(f"_w{i}").bitwiseAND(mask) != 0
        )
        survive = hit if survive is None else survive & hit
    drop = [c for i in range(num_hashes) for c in (f"_k{i}", f"_wi{i}", f"_w{i}")]
    return cand.filter(survive).drop(*drop)


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_hits: int = 1,
    m_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """`decontaminate` with a Bloom-filter prefilter: same output, exactly
    (a Bloom filter has NO false negatives — every shingle that was
    inserted tests positive — so prefilter + exact-verify of the
    survivors reproduces the exact hit counts bit-for-bit).

    Why: :func:`decontaminate` broadcasts the benchmark's distinct
    shingle-hash set — 8 bytes/shingle, fine for MB-scale eval suites but
    not for a 100M-shingle holdout (800 MB broadcast).  Here the
    broadcast is a FIXED ``m_bits/8`` bytes (128 KB at the 2^20 default)
    regardless of benchmark size:

    1. benchmark shingle hashes set ``num_hashes`` bit positions each
       (``xxhash64(shh, seed)`` mod ``m_bits``); the bitmap is built as a
       ``bit_or`` aggregate over 64-bit words — ≤ ``m_bits/64`` rows,
    2. each corpus shingle probes the bitmap via ``num_hashes`` broadcast
       joins on the word index (map-side, zero shuffle of the corpus);
       a shingle survives only if ALL its bits are set,
    3. survivors — true hits plus the Bloom false-positive residue — are
       exact-verified against the real shingle set with a plain join
       (the candidate stream is tiny post-Bloom, so AQE picks a cheap
       strategy; the eval set is never broadcast).

    Sizing: FP rate ≈ (1 − e^(−kn/m))^k; at n = 100k shingles,
    m = 2^20, k = 3 → ~0.2%.  Scale m_bits with the benchmark
    (m ≈ 10–16 bits/shingle keeps FP < 1%).
    """
    bench_sh = (
        benchmark.select(F.explode(word_shingles(text_col, k)).alias("sh"))
        .select(F.xxhash64("sh").alias("shh"))
        .distinct()
    )
    bitmap = bloom_bitmap(bench_sh, "shh", m_bits, num_hashes)

    # fan_out: see decontaminate — the shingle walks otherwise run in the
    # one-task scan stage of a single-row-group file
    spread = fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
    doc_sh = spread.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("sh")
    ).select(F.col(id_col), F.xxhash64("sh").alias("shh"))
    survivors = bloom_probe(doc_sh, bitmap, "shh", m_bits, num_hashes).select(
        F.col(id_col), "shh"
    )

    # exact verify: only the post-Bloom candidate stream pays this join
    hits = (
        survivors.join(bench_sh, "shh")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("hits"))
    )
    totals = spread.select(
        F.col(id_col),
        F.size(word_shingles(text_col, k)).cast("long").alias("n_shingles"),
    )
    return (
        totals.join(hits, id_col, "left")
        .withColumn("hits", F.coalesce("hits", F.lit(0).cast("long")))
        .withColumn("contaminated", F.col("hits") >= min_hits)
    )


# ---------------------------------------------------------------------------
# lm_perplexity — corpus bigram-LM quality scoring (CCNet-style buckets)
# ---------------------------------------------------------------------------

def lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    broadcast_model: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 shape): train a
    bigram language model ON the corpus itself, score every document by
    its average token log-probability, and split the corpus into
    ``n_buckets`` perplexity buckets (1 = head / best, ``n_buckets`` =
    tail).  Real pipelines score against a KenLM 5-gram trained on a
    reference corpus; the self-trained bigram keeps the exact same
    distributed shape (model-build aggregation + model-apply join) while
    staying engine-mirrorable for the oracle gate.

    Model: add-one-smoothed bigram conditional
    ``p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)`` over whitespace tokens
    (:func:`functions.text.tokens`); ``V`` = distinct tokens of the
    bigram-eligible corpus.  Per-doc score = count-weighted mean of
    ``ln p`` over its bigrams, computed exactly: each bigram's log-prob
    is quantized once to integer 1e-9 units, doc sums are exact
    decimal(38,0), and the 9→6-digit mean uses the repo's HALF_UP
    integer division — bit-identical across engines regardless of
    summation order (q1_pricing_summary's argument).

    Scale:

    - model build: one shuffle to (doc, w1, w2) counts, then strictly
      shrinking aggregations (bigram counts, context counts, vocab) —
      the 100 TB token stream is never re-shuffled.
    - re-use, not re-derivation: ``doc_big`` feeds both the model build
      and the scoring join, and ``bg_counts`` feeds three consumers
      (model, contexts, vocab) — Catalyst shares no common subplans, so
      without materialization the corpus would be scanned and exploded
      four times.  ``materialize=True`` (default) lazily
      ``localCheckpoint``-s the two shrinking intermediates once; the
      token stream is read exactly once per run.
    - model apply: broadcast hash join by default (a bigram model is
      bounded by V² and Zipf-truncated in practice); pass
      ``broadcast_model=False`` to let AQE pick a shuffle join when the
      model outgrows the broadcast threshold.
    - bucketing: NEVER a single-partition ``ntile`` window — global rank
      comes from ``repartitionByRange`` + per-partition offsets (the
      distributed two-phase scan of :func:`global_shuffle`), so no task
      sorts more than ~N/partitions rows; the bucket is the exact
      integer ``(rank * n_buckets) div total``.

    Returns one row per document with ≥ 2 tokens: ``(id, n_bigrams,
    avg_logp, ppl_bucket)`` — ``avg_logp`` at 6 decimals, higher = more
    probable = lower perplexity; bucket 1 holds the highest-``avg_logp``
    docs (ties broken by id, matching ``ORDER BY u6 DESC, id``).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    # fan_out BEFORE tokenize/bigram-explode (session.fan_out: the walk
    # otherwise runs in the one-task scan stage)
    toks = fan_out(
        df.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= 2)
    big = toks.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(0, size(_toks) - 2),"
                " i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    doc_big = big.groupBy(id_col, "_w1", "_w2").agg(
        F.count("*").cast("long").alias("_cnt")
    )
    if materialize:
        doc_big = doc_big.localCheckpoint(eager=False)
    bg_counts = doc_big.groupBy("_w1", "_w2").agg(
        F.sum("_cnt").alias("_c_bg")
    )
    if materialize:
        bg_counts = bg_counts.localCheckpoint(eager=False)
    ctx = bg_counts.groupBy("_w1").agg(F.sum("_c_bg").alias("_c_w1"))
    vocab = (
        bg_counts.select(F.col("_w1").alias("_t"))
        .union(bg_counts.select(F.col("_w2").alias("_t")))
        .agg(F.countDistinct("_t").alias("_V"))
    )
    # log-prob in integer 1e-9 units: the double division of exact
    # integers is IEEE-identical in every engine, so both sides round
    # the same double; everything after this line is exact integer math
    model = (
        bg_counts.join(ctx, "_w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_w1",
            "_w2",
            F.round(
                F.log(
                    (F.col("_c_bg") + 1).cast("double")
                    / (F.col("_c_w1") + F.col("_V")).cast("double")
                )
                * 1e9
            )
            .cast("long")
            .alias("_lp9"),
        )
    )
    if broadcast_model:
        model = F.broadcast(model)
    scored = (
        doc_big.join(model, ["_w1", "_w2"])
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_bigrams"),
            # cast BEFORE the sum (the _avg_round6 rule): the int64 sum
            # of cnt*lp9 can overflow under ANSI on pathological docs
            F.sum(F.col("_cnt").cast("decimal(38,0)") * F.col("_lp9"))
            .alias("_p"),
        )
    )
    # HALF_UP 9 -> 6 digits, weighted by n_bigrams (exact: see _avg_round6)
    q = F.col("n_bigrams").cast("decimal(38,0)") * F.lit(1000)
    a = F.abs(F.col("_p")) * 2 + q
    b = q * 2
    absr = ((a - a % b) / b).cast("decimal(38,0)")
    u6 = F.when(F.col("_p") < 0, -absr).otherwise(absr).cast("long")
    scored = scored.select(id_col, "n_bigrams", u6.alias("_u6"))

    # exact global rank without a single-task sort: range-partition on
    # the sort key, then rank = partition offset + within-partition
    # row_number (partition boundaries don't affect the result)
    ranked = scored.repartitionByRange(
        F.col("_u6").desc(), F.col(id_col).asc()
    ).withColumn("_pid", F.spark_partition_id())
    sizes = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = (
        SqlWindow.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
        F.sum("_n").over(SqlWindow.partitionBy(F.lit(0))).alias("_total"),
    )
    w_in = SqlWindow.partitionBy("_pid").orderBy(
        F.col("_u6").desc(), F.col(id_col).asc()
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "_pos",
            (F.col("_offset") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .select(
            id_col,
            "n_bigrams",
            (F.col("_u6").cast("double") / F.lit(1e6)).alias("avg_logp"),
            (
                F.expr(f"(_pos * {int(n_buckets)}) div _total") + 1
            )
            .cast("int")
            .alias("ppl_bucket"),
        )
    )


def temperature_rates(
    counts: Mapping[str, int], alpha: float = 0.5, budget_factor: float = 1.0
) -> dict[str, float]:
    """Temperature-scaled sampling rates from per-group counts — the
    multilingual α-sampling rule (target share ∝ n^α): the head group is
    downsampled, the tail upsampled, at a total budget of
    ``budget_factor × Σn``.  α=1 → natural distribution (every rate ==
    budget_factor); α=0 → uniform across groups.  Rates are rounded to 6
    decimals so the md5-coin threshold derived from them is bit-identical
    in any engine (the fractional part drives :func:`mix_datasets`'s
    deterministic coin).  Feed the result straight to ``mix_datasets``.
    """
    if not counts:
        return {}
    if any(n < 0 for n in counts.values()):
        raise ValueError("counts must be non-negative")
    import math

    total = sum(counts.values())
    # z is summed as INTEGER 1e-9-quantized terms: integer addition is
    # order-independent, so any engine mirroring this (e.g. a SQL oracle
    # with an unordered sum()) gets the bit-identical z — a float sum
    # would expose summation order at exact 0.5e-6 rate ties
    z = (
        sum(math.floor(n**alpha * 1e9 + 0.5) for n in counts.values()) / 1e9
    )  # floor(x+0.5) = HALF AWAY = DuckDB/Spark round(), not python half-even
    if z == 0:
        return {s: 0.0 for s in counts}

    def round6_away(x: float) -> float:
        # HALF AWAY FROM ZERO on the scaled double — the semantics of
        # DuckDB/Spark round(); python's round() is half-EVEN and would
        # diverge from an oracle at exact 1e-6 ties
        return math.floor(x * 1e6 + 0.5) / 1e6

    return {
        s: round6_away((n**alpha) / z * total * budget_factor / n)
        if n
        else 0.0
        for s, n in counts.items()
    }


# ---------------------------------------------------------------------------
# dsir_select — hashed-n-gram importance resampling (DSIR)
# ---------------------------------------------------------------------------

def dsir_select(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_buckets: int = 8192,
    keep_num: int = 1,
    keep_den: int = 5,
    seed: str = "dsir",
    materialize: bool = True,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): pick the ``keep_num/keep_den``
    fraction of the corpus that looks most like a small in-domain TARGET
    set, by importance weights over hashed n-gram features, sampled with
    Gumbel top-k (without replacement, probability ∝ weight).

    Model: every unigram ``u:<tok>`` and bigram ``b:<w1> <w2>`` hashes
    into one of ``m_buckets`` buckets (32-bit md5 prefix mod m — the
    engine-portable hash of :func:`hash_split`).  Two add-one-smoothed
    bucket unigram models are fit — ``p`` on the rows matching
    ``is_target`` (the "give me more like these" exemplar set: a wiki
    slice, a curated source, a lang tag) and ``q`` on the whole corpus —
    and a document's log importance weight is ``sum over its feature
    occurrences of ln p(bucket) - ln q(bucket)``.  Gumbel-perturbed
    ranking (``log w + Gumbel(0,1)``) then realizes weighted sampling
    without replacement; the Gumbel uniform is the md5 coin of
    ``<id>:<seed>``, so the draw is deterministic, position-independent,
    and engine-portable.

    Exactness contract (the lm_perplexity recipe): each ``ln`` is taken
    of a ratio of exact integers (IEEE-identical double in on any
    engine) and quantized once to integer 1e-9 units; all sums,
    comparisons, and the selection threshold are integer math, so the
    selected set is bit-identical across engines regardless of
    partitioning or summation order.  The keep fraction is the exact
    rational ``keep_num/keep_den``: a document is selected iff
    ``rank0 * keep_den < total * keep_num`` (= ceil(total·frac) rows).

    Scale shape:

    - feature extraction is a narrow explode; ONE shuffle builds the
      (doc, bucket) count table, which is localCheckpoint-ed and feeds
      the raw model, the target model, and the scoring join — the 100 TB
      token stream is read once and never re-shuffled.
    - both models are exactly ``m_buckets`` rows (broadcast); scoring is
      a map-side hash join + per-doc partial agg.
    - the target side is a FILTER of the same count table, not a second
      corpus pass — in DSIR the target is a small exemplar set, but this
      stays one-pass even when ``is_target`` matches half the corpus.
    - selection uses the two-phase distributed rank of
      :func:`global_shuffle` (range-partition on the score, ≤P-row
      offset table) — no single-task sort, any keep fraction.

    Returns the selected rows only: ``(id, n_feats, log_w9, score9,
    sel_rank)`` — ``log_w9``/``score9`` in integer 1e-9 ln units,
    ``sel_rank`` 1-based by (score9 DESC, id ASC).
    """
    if m_buckets < 2:
        raise ValueError("m_buckets must be >= 2")
    if keep_num < 1 or keep_den < 1 or keep_num > keep_den:
        raise ValueError("keep fraction must satisfy 0 < keep_num/keep_den <= 1")
    m = int(m_buckets)

    # fan_out BEFORE tokenize/explode/md5: the feature walk otherwise
    # runs inside the one-task scan stage of a single-row-group file
    # (session.fan_out — no-op once the scan has real splits)
    toks = fan_out(
        df.select(
            F.col(id_col),
            is_target.cast("boolean").alias("_tgt"),
            F.col(text_col),
        ),
        id_col,
    ).select(
        F.col(id_col),
        "_tgt",
        tokens(text_col).alias("_toks"),
    ).where(F.size("_toks") >= 1)
    feats = toks.select(
        id_col,
        "_tgt",
        F.explode(
            F.concat(
                F.expr("transform(_toks, x -> concat('u:', x))"),
                F.when(
                    F.size("_toks") >= 2,
                    F.expr(
                        "transform(sequence(0, size(_toks) - 2),"
                        " i -> concat('b:', _toks[i], ' ', _toks[i + 1]))"
                    ),
                ).otherwise(F.expr("array()")),
            )
        ).alias("_f"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("_f")), 1, 8), 16, 10).cast("long"),
        F.lit(m),
    )
    doc_b = (
        feats.select(id_col, "_tgt", bucket.alias("_b"))
        .groupBy(id_col, "_tgt", "_b")
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    if materialize:
        doc_b = doc_b.localCheckpoint(eager=False)

    raw = doc_b.groupBy("_b").agg(F.sum("_cnt").cast("long").alias("_c_r"))
    tgt = (
        doc_b.filter(F.col("_tgt"))
        .groupBy("_b")
        .agg(F.sum("_cnt").cast("long").alias("_c_t"))
    )
    totals = raw.agg(
        F.sum("_c_r").cast("long").alias("_n_r")
    ).crossJoin(
        doc_b.filter(F.col("_tgt")).agg(
            F.coalesce(F.sum("_cnt"), F.lit(0)).cast("long").alias("_n_t")
        )
    )
    # each ln sees a ratio of exact integers; quantize each ln separately
    # so the subtraction is integer-exact on every engine
    lp_t = F.round(
        F.log(
            (F.col("_c_t") + 1).cast("double")
            / (F.col("_n_t") + m).cast("double")
        )
        * 1e9
    ).cast("long")
    lp_r = F.round(
        F.log(
            (F.col("_c_r") + 1).cast("double")
            / (F.col("_n_r") + m).cast("double")
        )
        * 1e9
    ).cast("long")
    model = (
        raw.join(tgt, "_b", "left")
        .withColumn("_c_t", F.coalesce("_c_t", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(totals))
        .select("_b", (lp_t - lp_r).alias("_lr9"))
    )

    scored = (
        doc_b.join(F.broadcast(model), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_feats"),
            # decimal before the product-sum: ANSI-safe on pathological docs
            F.sum(F.col("_cnt").cast("decimal(38,0)") * F.col("_lr9"))
            .cast("long")
            .alias("log_w9"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h + 1).cast("double") / F.lit(4294967297.0)  # (0, 1) exclusive
    g9 = F.round(-F.log(-F.log(u)) * 1e9).cast("long")
    scored = scored.withColumn("score9", (F.col("log_w9") + g9).cast("long"))

    # two-phase global rank on (score9 DESC, id ASC) — no single-task sort
    ranked = scored.repartitionByRange(
        F.col("score9").desc(), F.col(id_col).asc()
    ).withColumn("_pid", F.spark_partition_id())
    sizes = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = (
        SqlWindow.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset"),
        F.sum("_n").over(SqlWindow.partitionBy(F.lit(0))).alias("_total"),
    )
    w_in = SqlWindow.partitionBy("_pid").orderBy(
        F.col("score9").desc(), F.col(id_col).asc()
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "_pos",
            (F.col("_offset") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .filter(
            F.col("_pos") * F.lit(int(keep_den))
            < F.col("_total") * F.lit(int(keep_num))
        )
        .select(
            id_col,
            "n_feats",
            "log_w9",
            "score9",
            (F.col("_pos") + 1).cast("long").alias("sel_rank"),
        )
    )


# ---------------------------------------------------------------------------
# weighted_sample — priority sampling (Duffield–Lund–Thorup)
# ---------------------------------------------------------------------------

def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
    out_col: str = "priority",
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement of ``k`` rows:
    priority sampling — each row gets ``q_i = w_i / u_i`` for a
    uniform ``u_i``, and the top-k priorities are the sample (heavier
    rows need less luck to place).  Inclusion probability is
    ~proportional to weight, the estimator family built on it is
    unbiased (Duffield, Lund, Thorup, JACM 2007), and re-rolling is one
    seed change away while staying fully deterministic per (id, seed).

    Engine-exact arithmetic: ``u_i`` is the md5-derived integer in
    [1, 2^32] and the priority is the fixed-point ``(w·10^12) div u``
    (BIGINT, truncating division — safe for weights up to ~9·10^6),
    ties broken by id ascending — so Spark, DuckDB, and Python rank
    identically with no float anywhere.

    Scale shape: a narrow projection (md5 + one division) followed by
    top-k — Catalyst plans ``orderBy(...).limit(k)`` as
    TakeOrderedAndProject (per-partition heaps + a k-row merge), NO
    global sort, no shuffle of the data itself.  The 100 TB cost is one
    scan.  Weights must be positive integers (cast/scale upstream)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    pri = F.expr(f"({weight_col} * 1000000000000) div _u")
    return (
        df.withColumn("_u", u)
        .withColumn(out_col, pri)
        .drop("_u")
        .orderBy(F.desc(out_col), F.asc(id_col))
        .limit(k)
    )


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """One-sweep data-quality profile: per column, ``(column, n_rows,
    n_nulls, min_v, max_v, n_sketch, est_distinct)`` — the stats a
    pipeline checks before trusting a new 100 TB drop (null explosions,
    cardinality drift, range drift).  Values are profiled through their
    string rendering (min/max are lexicographic; exact for string and
    non-negative fixed-width integer columns).

    Shape: the table is re-shaped once into a (column, value) stream via
    an array-of-structs explode — a narrow projection, no UDF — and that
    stream feeds two consumers:

    - the stats groupBy: map-side combine collapses each partition to
      one partial row per column before the exchange;
    - a per-column KMV sketch (``kmv_build_grouped``/
      ``kmv_estimate_grouped``): distinct estimates without a
      COUNT(DISTINCT) shuffle per column — est is exact below k.

    Catalyst shares no common subplans, so the stream is scanned twice
    (both passes column-pruned to exactly ``columns``); the outputs are
    n_cols and ≤ k·n_cols rows — driver-free, broadcastable.
    """
    from qdrant_datafusion_spark.operators.sketch import (
        kmv_build_grouped,
        kmv_estimate_grouped,
    )

    cols = columns or df.columns
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("v"),
            )
            for c in cols
        ]
    )
    ex = df.select(F.explode(pairs).alias("_p")).select(
        "_p.column", "_p.v"
    )
    stats = ex.groupBy("column").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    est = kmv_estimate_grouped(
        kmv_build_grouped(ex, "column", "v", k), "column", k
    ).select("column", "n_sketch", "est_distinct")
    return (
        stats.join(est, "column", "left")
        .withColumn("n_sketch", F.coalesce("n_sketch", F.lit(0)))
        .withColumn(
            "est_distinct", F.coalesce("est_distinct", F.lit(0))
        )
    )


# ---------------------------------------------------------------------------
# quantile_normalize — rank-based cross-source score alignment
# ---------------------------------------------------------------------------

def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    out_col: str = "norm_value",
) -> DataFrame:
    """Quantile normalization: replace each group's value distribution
    with the POOLED distribution (limma's microarray recipe, and the
    standard fix when per-source quality scores aren't comparable —
    source A's 0.8 means something different from source B's 0.8, but
    both sources' 90th percentiles are the same rank).

    Row at within-group rank ``r`` of ``n_g`` gets the pooled value at
    1-based position ``ceil(r · N / n_g)`` — pure SELECTION (a value
    that exists in the data; never interpolated arithmetic), so results
    are bit-identical across engines; all position math is integer.
    Ties order by ``(value, id)`` — deterministic everywhere.
    Contract: ``value_col`` and ``id_col`` must be non-NULL (engines
    disagree on NULL sort placement, which would shift every pooled
    position after the first NULL; the CDC order-column contract).

    Scale: the pooled global rank uses the two-phase scan of
    :func:`global_shuffle` (range repartition on ``(value, id)`` +
    broadcast per-partition offsets) — no single-task sort of the data;
    within-group ranks are one keyed window; the final position lookup
    is an integer equi-join.  Four linear exchanges total, nothing
    quadratic, no driver state.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_grp"),
        F.col(value_col).alias("_val"),
    )

    # pooled positions without a global window: range-partition by the
    # sort key, broadcast the per-partition row counts as offsets
    ranked = (
        base.repartitionByRange(F.col("_val").asc(), F.col("_id").asc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # feeds sizes AND the join side
    )
    sizes = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = (
        SqlWindow.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(SqlWindow.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w_in = SqlWindow.partitionBy("_pid").orderBy(
        F.col("_val").asc(), F.col("_id").asc()
    )
    pooled = (
        ranked.join(F.broadcast(offsets), "_pid")
        .select(
            (F.col("_off") + F.row_number().over(w_in)).alias("_pos"),
            F.col("_val").alias("_pooled_val"),
        )
    )

    n_total = base.agg(F.count("*").alias("_N"))
    w_grp = SqlWindow.partitionBy("_grp").orderBy(
        F.col("_val").asc(), F.col("_id").asc()
    )
    w_grp_n = SqlWindow.partitionBy("_grp")
    grouped = base.crossJoin(F.broadcast(n_total)).select(
        "_id",
        "_grp",
        "_val",
        # ceil(r*N/n_g) on positive ints: (r*N + n_g - 1) div n_g
        F.expr(
            "(row_number() OVER (PARTITION BY _grp ORDER BY _val ASC, _id ASC)"
            " * _N + count(*) OVER (PARTITION BY _grp) - 1)"
            " div count(*) OVER (PARTITION BY _grp)"
        ).alias("_pos"),
    )
    return grouped.join(pooled, "_pos").select(
        F.col("_id").alias(id_col),
        F.col("_grp").alias(group_col),
        F.col("_val").alias(value_col),
        F.col("_pooled_val").alias(out_col),
    )


# ---------------------------------------------------------------------------
# source_cap — deterministic per-source document cap
# ---------------------------------------------------------------------------

def source_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    seed: str = "cap",
    rank_col: str = "keep_rank",
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by the md5 coin — the
    anti-spam stage of corpus assembly (one hot crawl domain must not
    dominate the mixture no matter how many documents it contributes).

    Selection is ``row_number`` over ``md5(id:seed)`` within the group:
    deterministic, position-independent, engine-portable, and a fair
    uniform subsample of each group (same coin family as
    :func:`hash_split` / :func:`mix_datasets`).  Returns surviving rows
    plus ``rank_col`` (1-based).

    Scale: ONE keyed exchange + window; a hot group costs one task
    sorting that group's rows, which the md5 order keeps unskewed in
    VALUE space (and a pathological single-key group can pre-aggregate
    with the same coin as a salted two-phase top-k if ever needed).
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    coin = F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
    )
    w = SqlWindow.partitionBy(group_col).orderBy(
        coin.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= cap)
    )
