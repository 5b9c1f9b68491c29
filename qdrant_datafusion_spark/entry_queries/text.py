"""Text gates: lexical search (match, TF-IDF, BM25), quality and language
scoring, cleaning, decontamination, chunking, tokenizer training and
encoding (BPE, unigram), phrase mining, and the trained classifiers."""

from __future__ import annotations

import tempfile

from pyspark.ml import Pipeline, PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.text import (
    ENTITY_PATTERN,
    MARKUP_PATTERN,
    PII_PATTERNS,
    bm25_rank,
    clean_text,
    doc_fingerprint,
    language_score,
    match_text,
    pii_counts,
    pmi_phrases,
    quality_score,
    tfidf_rank,
    token_count,
    tokens,
    vocab_stats,
)
from qdrant_datafusion_spark.ml_interop import NbBowClassifier
from qdrant_datafusion_spark.operators.classify import (
    hashed_bow_counts,
    nb_bow_predict,
    nb_bow_score,
    pr_curve,
    train_nb_bow,
)
from qdrant_datafusion_spark.operators.langid import lang_id_ngram, train_lang_ngram
from qdrant_datafusion_spark.operators.pipeline import (
    chunk_documents,
    decontaminate,
    decontaminate_bloom,
    decontaminate_embedding,
    dsir_select,
    lm_perplexity,
    quality_percentile_filter,
    repetition_stats,
)
from qdrant_datafusion_spark.operators.tokenizer import (
    _words,
    bpe_encode,
    train_bpe,
    train_unigram,
    unigram_encode,
)
from qdrant_datafusion_spark.session import shared_build

from ._common import _avg6_sql, _avg_round6, _ratio6_sql, _ratio_round6, _t, gate

MATCH_QUERY = "spark join merge window"


_MATCH_TERMS = MATCH_QUERY.split()
MATCH_TEXT_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       round(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _MATCH_TERMS)})::DOUBLE
             / {len(_MATCH_TERMS)}, 6) AS relevance
FROM t
WHERE round(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _MATCH_TERMS)})::DOUBLE
            / {len(_MATCH_TERMS)}, 6) >= 0.75
"""


@gate("match_text_topk", oracle=MATCH_TEXT_SQL)
def match_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_TEXT term-overlap relevance (tests/bin/tests.sql:210-214)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.round(match_text("text", MATCH_QUERY), 6).alias("relevance"),
        )
        .filter(F.col("relevance") >= 0.75)
    )


# ===========================================================================
# Training-data pipeline surface (dedup / text analysis / fingerprints)
# ===========================================================================

_TOKS_SQL = """
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
"""

#: distinct 3-word shingles, mirroring functions.text.word_shingles(k=3)
_SHINGLES_SQL = f"""
WITH t AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [] END AS shingles
  FROM t
)
"""


TEXT_QUALITY_SQL = """
WITH q AS (
  SELECT source,
         0.4 * least(length(text)::DOUBLE / 1000.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                            / length(text)
                       ELSE 0 END)
         + 0.3 * ((list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                             x -> x <> ''), 'the')::INT
                   + list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                               x -> x <> ''), 'a')::INT)::DOUBLE / 2)
         AS quality
  FROM documents
)
SELECT source,
       {AVG_QUALITY_EXPR} AS avg_quality,
       count(*) AS n_docs
FROM q GROUP BY source
"""
TEXT_QUALITY_SQL = TEXT_QUALITY_SQL.replace(
    "{AVG_QUALITY_EXPR}",
    _avg6_sql("(quality::DECIMAL(18,12) * 1000000000000)::BIGINT", 12),
)


@gate("text_quality", oracle=TEXT_QUALITY_SQL)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring aggregated per source (curation pre-filter shape)."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_score("text", stopwords=("the", "a"))
    return (
        docs.groupBy("source")
        .agg(
            _avg_round6(
                (q.cast("decimal(18,12)") * F.lit(10**12)).cast("long"), 12
            ).alias("avg_quality"),
            F.count("*").alias("n_docs"),
        )
    )


_TOKENS_UNITS_SQL = (
    "len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), x -> x <> ''))"
)
TEXT_TOKEN_SQL = f"""
SELECT lang,
       {_avg6_sql(_TOKENS_UNITS_SQL, 0)} AS avg_tokens,
       max(n_chars) AS max_chars,
       count(*) AS n_docs
FROM documents
GROUP BY lang
"""


@gate("text_token_stats", oracle=TEXT_TOKEN_SQL)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per language (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            _avg_round6(token_count("text").cast("long"), 0).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
            F.count("*").alias("n_docs"),
        )
    )


_EN_PROFILE = ("the", "and", "of", "to", "a", "in", "is", "that")
TEXT_LANG_SQL = f"""
WITH t AS ({_TOKS_SQL})
SELECT lang,
       round(avg(({" + ".join(f"list_contains(toks, '{w}')::INT" for w in _EN_PROFILE)})::DOUBLE
                 / {len(_EN_PROFILE)}), 6) AS avg_en_score
FROM t JOIN documents USING (doc_id)
GROUP BY lang
"""


@gate("text_lang_id", oracle=TEXT_LANG_SQL)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per declared lang, the average English
    stopword-profile score (the scoring kernel is the operator under test)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.round(F.avg(language_score("text", "en")), 6).alias("avg_en_score"))
    )


DOC_FINGERPRINT_SQL = _SHINGLES_SQL + """
SELECT doc_id,
       CASE WHEN len(shingles) > 0
            THEN list_min(list_transform(shingles, s -> md5(s)))
            ELSE md5((SELECT lower(trim(text)) FROM documents d
                      WHERE d.doc_id = sh.doc_id)) END AS fingerprint
FROM sh
ORDER BY fingerprint ASC, doc_id ASC
LIMIT 20
"""


@gate("doc_fingerprints", oracle=DOC_FINGERPRINT_SQL)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: min-shingle-md5 signature per document
    (deterministic near-dup bucket key), first 20 by fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", doc_fingerprint("text", k=3).alias("fingerprint"))
        .orderBy(F.asc("fingerprint"), F.asc("doc_id"))
        .limit(20)
    )


TEXT_VOCAB_SQL = f"""
WITH t AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t)
SELECT token, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
FROM tok GROUP BY token
ORDER BY tf DESC, token ASC
LIMIT 25
"""


@gate("text_vocabulary", oracle=TEXT_VOCAB_SQL)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-25 tokens by term frequency with doc
    frequency (tokenizer-building stage of a training-data pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, "text", "doc_id", top_n=25)


TFIDF_QUERY_TERMS = ["spark", "shuffle", "partition", "join"]


def _tfidf_sql() -> str:
    terms = TFIDF_QUERY_TERMS
    tf_exprs = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::INT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n       ".join(
        f"sum((tf{i} > 0)::INT)::BIGINT AS df{i}" for i in range(len(terms))
    )
    score = " + ".join(
        f"(CASE WHEN df{i} > 0 THEN tf{i}::DOUBLE * ln(n::DOUBLE / df{i}::DOUBLE) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH t AS ({_TOKS_SQL}),
tf AS (
SELECT doc_id,
       {tf_exprs}
FROM t
),
d AS (
SELECT count(*)::BIGINT AS n,
       {df_exprs}
FROM tf
)
SELECT doc_id, round({score}, 6) AS score
FROM tf, d
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


MATCH_TFIDF_SQL = _tfidf_sql()


@gate("match_text_tfidf", oracle=MATCH_TFIDF_SQL)
def match_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF ranked retrieval — MATCH_TEXT's scale path (corpus-derived
    idf, codegen'd per-term tf, broadcast stats, single top-k)."""
    docs = _t(spark, sf_dir, "documents")
    return tfidf_rank(docs, "text", "doc_id", " ".join(TFIDF_QUERY_TERMS), k=10)


#: distinct 5-word shingles (decontamination unit), mirroring
#: functions.text.word_shingles(k=5)
_SHINGLES5_SQL = f"""
WITH t AS ({_TOKS_SQL}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 4),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  || ' ' || toks[i+3] || ' ' || toks[i+4]))
         ELSE [] END AS shingles
  FROM t
)
"""


TEXT_DECONTAMINATE_SQL = _SHINGLES5_SQL + """
, bench AS (
  SELECT DISTINCT s
  FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 17 = 0)
),
corpus AS (SELECT doc_id, shingles FROM sh WHERE doc_id % 17 <> 0),
hits AS (
  SELECT e.doc_id, count(*)::BIGINT AS hits
  FROM (SELECT doc_id, unnest(shingles) AS s FROM corpus) e
  JOIN bench b USING (s)
  GROUP BY e.doc_id
)
SELECT c.doc_id,
       len(c.shingles)::BIGINT AS n_shingles,
       coalesce(h.hits, 0)::BIGINT AS hits,
       coalesce(h.hits, 0) >= 1 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


@gate("text_decontaminate", oracle=TEXT_DECONTAMINATE_SQL)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark 5-gram decontamination: docs with ``doc_id % 17 == 0``
    stand in for the eval set; every other doc is scored by how many of
    its distinct 5-word shingles appear anywhere in that set."""

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, bench, "text", "doc_id", k=5, min_hits=1)


# NULLIF guards the zero-norm edge so the oracle models the operator's
# NULL-never-NaN contract: 0/0 in DuckDB is NaN, and NaN sorts ABOVE every
# double, so an unguarded max() would flip `contaminated` to true for rows
# the operator deliberately emits as NULL (and one zero-norm benchmark
# vector would poison the max for the whole corpus); with NULLIF the pair
# cosine is NULL, max() ignores it, matching the Spark side exactly
_SEM_COS = (
    "list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / nullif(sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0)"
)
TEXT_DECONTAMINATE_SEMANTIC_SQL = f"""
WITH b AS (
  SELECT embedding FROM embeddings WHERE label = 0 AND embedding IS NOT NULL
),
s AS (
  SELECT c.vec_id, max({_SEM_COS}) AS mc
  FROM embeddings c, b
  WHERE c.label != 0 AND c.embedding IS NOT NULL
  GROUP BY c.vec_id
)
SELECT vec_id::BIGINT AS vec_id,
       round(mc, 6) AS max_cosine,
       mc >= 0.4 AS contaminated
FROM s
"""


@gate("text_decontaminate_semantic", oracle=TEXT_DECONTAMINATE_SEMANTIC_SQL)
def text_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-based decontamination — the paraphrase-robust sibling of
    :func:`text_decontaminate` (n-gram overlap misses reworded eval
    leakage).  label-0 embeddings stand in for the eval set; every other
    vector is flagged by its max cosine against ANY of them.  Zero-shuffle
    plan: the eval matrix broadcasts, each partition scores with one GEMM,
    and the two-tier exact re-score makes the emitted max oracle-exact."""

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("label") == 0)
    corpus = emb.filter(F.col("label") != 0)
    out = decontaminate_embedding(
        corpus, bench, "embedding", "vec_id", threshold=0.4
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round("max_cosine", 6).alias("max_cosine"),
        "contaminated",
    )


TEXT_REPETITION_SQL = f"""
WITH t AS ({_TOKS_SQL}),
ln AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END) AS g
  FROM t
),
bgf AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS f
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
  GROUP BY doc_id
),
tg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [] END) AS g
  FROM t
),
tgf AS (
  SELECT doc_id, max(c)::DOUBLE / sum(c) AS f
  FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks)::BIGINT AS n_tokens,
       round(CASE WHEN len(t.toks) > 0 THEN
         (len(t.toks) - len(list_distinct(t.toks)))::DOUBLE / len(t.toks)
         ELSE 0 END, 6) AS dup_token_frac,
       round(coalesce(b.f, 0), 6) AS top_bigram_frac,
       round(coalesce(g.f, 0), 6) AS top_trigram_frac,
       round(CASE WHEN len(l.lines) > 0 THEN
         (len(l.lines) - len(list_distinct(l.lines)))::DOUBLE / len(l.lines)
         ELSE 0 END, 6) AS dup_line_frac
FROM t
JOIN ln l USING (doc_id)
LEFT JOIN bgf b USING (doc_id)
LEFT JOIN tgf g USING (doc_id)
"""


@gate("text_repetition", oracle=TEXT_REPETITION_SQL)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (dup-token /
    dup-line fractions, top bigram/trigram share) — one narrow projection,
    max-multiplicity via an in-row sort + run-length fold."""

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs, "text", "doc_id")
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


TEXT_QUALITY_FILTER_SQL = """
WITH q AS (
  SELECT doc_id, source,
         round(0.4 * least(length(text)::DOUBLE / 1000.0, 1.0)
         + 0.3 * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                            / length(text)
                       ELSE 0 END)
         + 0.3 * ((list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                             x -> x <> ''), 'the')::INT
                   + list_contains(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                                               x -> x <> ''), 'a')::INT)::DOUBLE / 2), 6)
         AS quality
  FROM documents
),
r AS (
  SELECT doc_id, source, quality,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY quality DESC, doc_id) AS pr
  FROM q
)
SELECT doc_id, source, quality FROM r WHERE pr <= 0.5
"""


@gate("text_quality_filter", oracle=TEXT_QUALITY_FILTER_SQL)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each source's top half by quality score — the relative
    per-source curation cut.  Scores are rounded to 6 places BEFORE
    ranking so the cut boundary is engine-stable."""

    docs = _t(spark, sf_dir, "documents")
    q = F.round(quality_score("text", stopwords=("the", "a")), 6)
    scored = docs.select("doc_id", "source", q.alias("quality"))
    return quality_percentile_filter(scored, "quality", by="source", keep_frac=0.5)


def _text_clean_oracle_sql() -> str:

    pats = dict(PII_PATTERNS)
    cleaned = (
        f"trim(regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{MARKUP_PATTERN}', ' ', 'g'), '{ENTITY_PATTERN}', ' ', 'g'), "
        f"'\\s+', ' ', 'g'))"
    )
    for _, pat in PII_PATTERNS:
        cleaned = f"regexp_replace({cleaned}, '{pat}', '[PII]', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pats[n]}'))::INT AS n_{n}"
        for n in ("email", "ip", "phone")
    )
    return f"""
SELECT doc_id, md5({cleaned}) AS clean_hash, {counts}
FROM documents
"""


@gate("text_clean", oracle=_text_clean_oracle_sql())
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrub stage: markup strip + PII redaction (emails, IPv4,
    phone runs) as one narrow chained-regexp projection, plus per-category
    raw-occurrence counts.  The synthetic corpus is PII-free, so the gate
    proves the no-op path char-exactly (md5 of cleaned text) and the
    planted-PII behavior is pinned in test_functions.py."""

    docs = _t(spark, sf_dir, "documents")
    c = pii_counts("text")
    return docs.select(
        "doc_id",
        F.md5(clean_text("text")).alias("clean_hash"),
        c["n_email"].alias("n_email"),
        c["n_ip"].alias("n_ip"),
        c["n_phone"].alias("n_phone"),
    )


# ===========================================================================
# round 3: chunking, distributed token budget, BM25
# ===========================================================================

_CHUNK_SIZE, _CHUNK_OVERLAP = 40, 10
_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP


TEXT_CHUNKING_SQL = f"""
WITH t AS ({_TOKS_SQL}),
s AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
),
e AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n - 1, {_CHUNK_STEP})) AS start
  FROM s
)
SELECT doc_id,
       (start // {_CHUNK_STEP})::INTEGER AS chunk_id,
       least({_CHUNK_SIZE}, n - start)::INTEGER AS n_tokens,
       md5(array_to_string(toks[start + 1:start + {_CHUNK_SIZE}], ' ')) AS chunk_hash
FROM e
WHERE start = 0 OR start - {_CHUNK_STEP} + {_CHUNK_SIZE} < n
"""


@gate("text_chunking", oracle=TEXT_CHUNKING_SQL)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (40-token windows, 10-token overlap)
    — narrow projection + one explode of start offsets, no shuffle; the
    md5 chunk hash stands in for the chunk text in the gate compare."""

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP
    )


_BM25_QUERY = "spark vector fast query"
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_sql() -> str:
    terms = list(dict.fromkeys(_BM25_QUERY.split()))
    k1, b = _BM25_K1, _BM25_B
    tf_exprs = ",\n       ".join(
        f"len(list_filter(toks, x -> x = '{t}'))::INT AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n       ".join(
        f"sum((tf{i} > 0)::INT)::BIGINT AS df{i}" for i in range(len(terms))
    )
    # mirror the Spark associativity exactly: idf * (tf*(k1+1)) / (tf + norm)
    score = " + ".join(
        f"(CASE WHEN df{i} > 0 THEN "
        f"ln((n::DOUBLE - df{i}::DOUBLE + 0.5) / (df{i}::DOUBLE + 0.5) + 1.0)"
        f" * (tf{i}::DOUBLE * {k1 + 1.0}) "
        f"/ (tf{i}::DOUBLE + {k1} * ({1.0 - b} + {b} * dl / avgdl)) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH t AS ({{_TOKS_SQL}}),
tf AS (
SELECT doc_id, len(toks)::DOUBLE AS dl,
       {tf_exprs}
FROM t
),
d AS (
SELECT count(*)::BIGINT AS n, sum(dl) / count(*)::DOUBLE AS avgdl,
       {df_exprs}
FROM tf
)
SELECT doc_id, round({score}, 6) AS score
FROM tf, d
ORDER BY score DESC, doc_id ASC
LIMIT 10
""".replace("{_TOKS_SQL}", _TOKS_SQL)


@gate("match_text_bm25", oracle=_bm25_sql())
def match_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 (k1=1.2, b=0.75, Lucene idf) — per-term codegen
    tf + one broadcast stats row, same shape as match_text_tfidf."""

    docs = _t(spark, sf_dir, "documents")
    return bm25_rank(
        docs, "text", "doc_id", _BM25_QUERY, k=10, k1=_BM25_K1, b=_BM25_B
    )


@gate("text_decontaminate_bloom", oracle=TEXT_DECONTAMINATE_SQL)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same decontamination contract as ``text_decontaminate`` but through
    the Bloom-prefilter + exact-verify path — the oracle is REUSED
    verbatim because a Bloom filter has no false negatives, so the
    verified output matches the exact operator bit-for-bit.  A tiny
    2^14-bit filter is deliberate: at sf0.01 it forces a real
    false-positive rate, proving the verify stage scrubs FPs."""

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    return decontaminate_bloom(
        corpus, bench, "text", "doc_id", k=5, min_hits=1, m_bits=1 << 14
    )


#: mirrors lm_perplexity: add-one bigram LM, log-probs quantized to
#: integer 1e-9 units (the double division of exact integers is
#: IEEE-identical, so both engines round the same double), exact HALF_UP
#: 9->6 weighted mean, bucket = (rank * 3) div total on (u6 DESC, id)
TEXT_PERPLEXITY_SQL = f"""
WITH t AS ({_TOKS_SQL}),
big AS (
  SELECT doc_id, u.bg[1] AS w1, u.bg[2] AS w2
  FROM (SELECT doc_id, toks FROM t WHERE len(toks) >= 2) s,
       unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS u(bg)
),
doc_big AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM big GROUP BY ALL),
bgc AS (SELECT w1, w2, sum(cnt) AS c_bg FROM doc_big GROUP BY ALL),
ctx AS (SELECT w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY ALL),
voc AS (
  SELECT count(DISTINCT tok) AS V
  FROM (SELECT w1 AS tok FROM bgc UNION SELECT w2 FROM bgc)
),
model AS (
  SELECT w1, w2,
         round(ln((c_bg + 1)::DOUBLE / (c_w1 + V)::DOUBLE) * 1e9)::BIGINT AS lp9
  FROM bgc JOIN ctx USING (w1) CROSS JOIN voc
),
sc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
         sum(cnt::HUGEINT * lp9) AS p
  FROM doc_big JOIN model USING (w1, w2) GROUP BY doc_id
),
u AS (
  SELECT doc_id, n_bigrams,
         (CASE WHEN p < 0
           THEN -((2 * abs(p) + n_bigrams::HUGEINT * 1000)
                  // (2 * n_bigrams::HUGEINT * 1000))
           ELSE ((2 * abs(p) + n_bigrams::HUGEINT * 1000)
                 // (2 * n_bigrams::HUGEINT * 1000)) END)::BIGINT AS u6
  FROM sc
),
pos AS (
  SELECT doc_id, n_bigrams, u6,
         row_number() OVER (ORDER BY u6 DESC, doc_id) - 1 AS pos,
         count(*) OVER () AS total
  FROM u
)
SELECT doc_id, n_bigrams, (u6 / 1000000.0) AS avg_logp,
       ((pos * 3) // total + 1)::INT AS ppl_bucket
FROM pos
"""


@gate("text_perplexity", oracle=TEXT_PERPLEXITY_SQL)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al. 2020): a bigram
    LM trained on the corpus itself scores every document's average
    token log-probability; documents split into 3 perplexity buckets
    (1 = head / most fluent, 3 = tail).  The distributed shape — model
    build by shrinking aggregation, model apply by broadcast join,
    bucket by two-phase global rank — is exactly what a KenLM-scored
    100 TB curation run does."""

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity(docs, "text", "doc_id", n_buckets=3)


TEXT_SOURCE_PROFILE_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tok AS (SELECT source, unnest(toks) AS tk FROM t),
counts AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY ALL),
per_src AS (
  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types
  FROM counts GROUP BY source
),
scored AS (
  SELECT c.source, c.c, p.n_tokens, p.n_types,
         round(log2(c.c::DOUBLE / p.n_tokens::DOUBLE) * 1e9)::BIGINT AS lp9
  FROM counts c JOIN per_src p USING (source)
),
agg AS (
  SELECT source, n_tokens, n_types,
         sum(c::HUGEINT * lp9) AS p
  FROM scored GROUP BY ALL
),
nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source)
SELECT a.source, nd.n_docs, a.n_tokens, a.n_types,
       {_ratio6_sql("a.n_types", "a.n_tokens")} AS ttr,
       (((2 * abs(a.p) + a.n_tokens::HUGEINT * 1000)
         // (2 * a.n_tokens::HUGEINT * 1000)) / 1000000.0) AS entropy_bits
FROM agg a JOIN nd USING (source)
"""


@gate("text_source_profile", oracle=TEXT_SOURCE_PROFILE_SQL)
def text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus diagnostics — the "is this crawl worth keeping"
    profile: document/token volume, type-token ratio (lexical
    diversity), and exact Shannon token entropy in bits.  Entropy uses
    the perplexity machinery's integer trick: per-token ``log2(c/N)``
    quantized once to 1e-9 units, count-weighted sums exact in
    decimal(38,0), HALF_UP 9→6 mean — engine-identical regardless of
    summation order.  Plan: one explode → one (source, token) count
    shuffle → strictly shrinking per-source aggregates."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("tok")
    )
    counts = tok.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    per_src = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    # lp9 = round(log2(c / N) * 1e9): the double division of exact longs
    # is IEEE-identical cross-engine, so both sides round the same double
    scored = counts.join(per_src, "source").select(
        "source",
        "c",
        "n_tokens",
        "n_types",
        F.round(
            F.log2(F.col("c").cast("double") / F.col("n_tokens").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("_lp9"),
    )
    agg = scored.groupBy("source", "n_tokens", "n_types").agg(
        # cast BEFORE the sum (the _avg_round6 rule): an int64 sum of
        # c*lp9 overflows at ~1e9 tokens/source under ANSI
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("_lp9")).alias("_p")
    )
    n_docs = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    # HALF_UP 9 -> 6 weighted by n_tokens; entropy = -mean(log2 p) >= 0
    q = F.col("n_tokens").cast("decimal(38,0)") * F.lit(1000)
    a = F.abs(F.col("_p")) * 2 + q
    b = q * 2
    u6 = ((a - a % b) / b).cast("decimal(38,0)")
    return (
        agg.join(n_docs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_types",
            _ratio_round6(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
            (u6.cast("double") / F.lit(1e6)).alias("entropy_bits"),
        )
    )


# ===========================================================================
# round-6: distributed BPE tokenizer training (operators/tokenizer.py) —
# the merge loop is graded by an unrolled-CTE DuckDB oracle, one
# (pair-count → argmax → greedy replace) stage per merge, the pagerank
# recipe applied to strings: integer counts, (count DESC, left, right)
# tie-break, and boundary-anchored replace() whose left-to-right
# non-overlapping semantics are identical in Spark, DuckDB, and Python.
# ===========================================================================

BPE_N_MERGES = 12


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The trained BPE merge table (bounded driver state: BPE_N_MERGES
    rows) shared by text_bpe_vocab / text_bpe_encode / pipeline_pack_bpe
    — all three train the IDENTICAL model (same corpus, same params), so
    it is trained once per (session, sf_dir) and reused: the
    train-once/apply-many production pattern (a fresh session always
    retrains from the parquet inputs)."""

    docs = _t(spark, sf_dir, "documents")
    return shared_build(
        spark,
        ("bpe_merges", sf_dir),
        lambda pin: train_bpe(docs, "text", n_merges=BPE_N_MERGES),
    )


#: DuckDB fragments shared by every BPE oracle: the two-byte symbol
#: boundary and the trainer's input normalization (markers stripped,
#: explicit ASCII whitespace class — RE2's \s is [\t\n\f\r ] (no \x0b)
#: while Spark's is Java's [ \t\n\x0B\f\r], so only a shared literal
#: class makes the engines tokenize identically; mirrors
#: operators/tokenizer._word_table exactly)
_BPE_B = "chr(31)||chr(31)"
_BPE_CLEAN = "replace(replace(lower(text), chr(31), ''), chr(30), '')"


def _bpe_learn_parts(n_merges: int) -> list[str]:
    """CTE parts learning the merge table: ``wt`` = distinct words with
    frequencies, w{k} = symbol table after k merges (cross join with the
    1-row argmax m{k} applies the merge), p{k} = pair counts from
    w{k-1}.  If pairs run out at stage k, m{k} is empty, so w{k} (cross
    join) empties and every later stage yields no row — exactly
    mirroring the operator's early break."""
    b = _BPE_B
    parts = [
        f"""wt AS MATERIALIZED (
  SELECT tok AS word, count(*)::BIGINT AS n
  FROM (SELECT unnest(string_split_regex({_BPE_CLEAN},
                      '[ \\t\\n\\r\\f\\x0b]+')) AS tok
        FROM documents)
  WHERE len(tok) > 0
  GROUP BY 1
)""",
        f"""w0 AS MATERIALIZED (
  SELECT {b} || array_to_string(string_split(word || chr(30), ''), {b})
         || {b} AS w, n
  FROM wt
)""",
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS (
  SELECT l[i] AS a, l[i + 1] AS b, sum(n)::BIGINT AS cnt
  FROM (SELECT l, n, unnest(generate_series(1, len(l) - 1)) AS i
        FROM (SELECT string_split(trim(w, chr(31)), {b}) AS l, n
              FROM w{k - 1}))
  GROUP BY 1, 2
),
m{k} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
)"""
        )
        if k < n_merges:
            parts.append(
                f"""w{k} AS MATERIALIZED (
  SELECT replace(w, chr(31)||a||{b}||b||chr(31),
                 chr(31)||a||b||chr(31)) AS w, n
  FROM w{k - 1}, m{k}
)"""
            )
    return parts


def _bpe_oracle_sql(n_merges: int) -> str:
    """The learned merge table itself — see :func:`_bpe_learn_parts`."""
    union = "\nUNION ALL ".join(
        f'SELECT {k}::INT AS "rank", a AS "left", b AS "right",'
        f" cnt AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_learn_parts(n_merges)) + "\n" + union


TEXT_BPE_VOCAB_SQL = _bpe_oracle_sql(BPE_N_MERGES)


@gate("text_bpe_vocab", oracle=TEXT_BPE_VOCAB_SQL)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE merge rules over documents.text — see
    operators/tokenizer.py for the scale argument (corpus collapses to
    the distinct-word table; each merge = one groupBy + one TakeOrdered
    + one narrow map).  Output: the learned merge table, fully
    deterministic."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


# ===========================================================================
# text_unigram_vocab — unigram-LM (SentencePiece-style) tokenizer training,
# the hard-EM sibling of text_bpe_vocab (operators/tokenizer.train_unigram).
# The oracle unrolls BOTH loops: the EM iterations (like BPE's merge
# stages) AND the per-word Viterbi DP over character positions 1..P —
# b{t}_{p} = best (cost, n_pieces, seg) prefix segmentation of each word's
# first p chars, a k-way UNION over the last piece's length joined against
# the current integer cost table.  All arithmetic is BIGINT; the only
# doubles are inside Q(x) = floor(ln(x)*1e6 + 0.5), which _qlog guards
# with a cross-engine boundary assertion on the Spark side.
# ===========================================================================

#: oracle DP position cap — the gate asserts max word length <= this
UNIGRAM_MAX_WORD = 12
UNIGRAM_PIECE_LEN = 4
UNIGRAM_SEED_MULTI = 60
UNIGRAM_KEEP_MULTI = 40
UNIGRAM_ITERS = 3
UNIGRAM_TOP_K = 40


def _unigram_full_vocab(spark: SparkSession, sf_dir: str) -> list:
    """The FULL trained unigram vocabulary (top_k=10_000 — every piece
    the trainer retains) over documents.text, shared by
    text_unigram_vocab and text_unigram_encode.  ``top_k`` in
    ``train_unigram`` is a pure final prefix cut of the
    (count DESC, piece ASC)-ordered list, so the vocab gate's
    ``UNIGRAM_TOP_K`` view is exactly ``full[:UNIGRAM_TOP_K]`` (ranks
    are the 1-based list positions on both paths).  Trained once per
    (session, sf_dir) — bounded driver state, the same
    train-once/apply-many discipline as :func:`_bpe_merges`.  The
    shared ``maxlen`` oracle-precondition assert runs with the build."""
    return shared_build(
        spark, ("unigram_vocab", sf_dir), lambda pin: _train_unigram(spark, sf_dir)
    )


def _train_unigram(spark: SparkSession, sf_dir: str) -> list:

    docs = _t(spark, sf_dir, "documents")
    maxlen = (
        _words(docs, "text")
        .agg(
            # coalesce: F.max is NULL on an empty/whitespace-only corpus,
            # which must read as "no long words", not a TypeError below
            F.coalesce(F.max(F.length("_w")), F.lit(0)).alias("maxlen")
        )
        .collect()[0]["maxlen"]
    )
    if maxlen > UNIGRAM_MAX_WORD:
        raise AssertionError(
            f"text_unigram precondition violated: maxlen={maxlen} "
            f"(cap {UNIGRAM_MAX_WORD}) — regenerate the oracle with a "
            "larger position cap"
        )
    return train_unigram(
        docs,
        "text",
        max_piece_len=UNIGRAM_PIECE_LEN,
        seed_multi=UNIGRAM_SEED_MULTI,
        keep_multi=UNIGRAM_KEEP_MULTI,
        n_iters=UNIGRAM_ITERS,
        top_k=10_000,  # full final vocabulary — encode needs the chars
    )


def _unigram_dp_parts(
    tag: str, cost_cte: str, max_word: int, piece_len: int
) -> tuple[list[str], str]:
    """Unrolled Viterbi DP over the distinct-word table ``w`` under the
    piece costs of ``cost_cte``: ``b{tag}_p`` is each word's unique best
    (cost ASC, piece count ASC, segmentation ASC) split of its first
    ``p`` characters.  Returns the CTE parts plus the UNION ALL yielding
    every word's full segmentation ``(word, n, seg)``."""
    parts = [
        f"b{tag}_0 AS (SELECT word, n, 0::BIGINT AS cost, 0 AS np,"
        f" '' AS seg FROM w)"
    ]
    for p in range(1, max_word + 1):
        branches = []
        for k in range(1, min(piece_len, p) + 1):
            branches.append(
                f"""      SELECT b.word, b.n, b.cost + c.cost AS cost,
             b.np + 1 AS np, b.seg || chr(31) || c.piece AS seg
      FROM b{tag}_{p - k} b JOIN {cost_cte} c
        ON c.piece = substr(b.word, {p - k + 1}, {k})
      WHERE len(b.word) >= {p}"""
            )
        union = "\n      UNION ALL\n".join(branches)
        parts.append(
            f"""b{tag}_{p} AS MATERIALIZED (
  SELECT word, n, cost, np, seg FROM (
    SELECT word, n, cost, np, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY cost, np, seg) AS rn
    FROM (
{union}
    )) WHERE rn = 1
)"""
        )
    finals = "\n    UNION ALL ".join(
        f"SELECT word, n, seg FROM b{tag}_{p} WHERE len(word) = {p}"
        for p in range(1, max_word + 1)
    )
    return parts, finals


def _unigram_oracle_sql(
    max_word: int = UNIGRAM_MAX_WORD,
    piece_len: int = UNIGRAM_PIECE_LEN,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    keep_multi: int = UNIGRAM_KEEP_MULTI,
    n_iters: int = UNIGRAM_ITERS,
    top_k: int = UNIGRAM_TOP_K,
    source: str = "documents",
    extra_ctes: tuple[str, ...] = (),
) -> str:
    clean = _BPE_CLEAN
    q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
    parts = [
        *extra_ctes,
        f"""w AS MATERIALIZED (
  SELECT tok AS word, count(*)::BIGINT AS n
  FROM (SELECT unnest(string_split_regex({clean},
               '[ \\t\\n\\r\\f\\x0b]+')) AS tok FROM {source})
  WHERE len(tok) > 0
  GROUP BY 1
)""",
        f"""seed AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt FROM (
    SELECT substr(word, s, k) AS piece, n FROM (
      SELECT word, n, s,
             unnest(generate_series(1, least({piece_len},
                    len(word) - s + 1))) AS k
      FROM (SELECT word, n,
                   unnest(generate_series(1, len(word))) AS s FROM w)))
  GROUP BY 1
)""",
        """chars AS MATERIALIZED (
  SELECT piece, cnt FROM seed WHERE len(piece) = 1
)""",
        f"""v0 AS MATERIALIZED (
  SELECT piece, cnt FROM chars
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM seed WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {seed_multi})
)""",
    ]
    for t in range(1, n_iters + 1):
        v_prev = f"v{t - 1}"
        qt = q.format(x="sum(cnt)")
        qc = q.format(x="cnt")
        parts.append(
            f"""c{t} AS MATERIALIZED (
  SELECT piece, (SELECT {qt} FROM {v_prev}) - {qc} AS cost
  FROM {v_prev}
)"""
        )
        dp_parts, finals = _unigram_dp_parts(str(t), f"c{t}", max_word, piece_len)
        parts.extend(dp_parts)
        parts.append(
            f"""m{t} AS MATERIALIZED (
  SELECT piece, sum(n)::BIGINT AS cnt FROM (
    SELECT unnest(string_split(substr(seg, 2), chr(31))) AS piece, n
    FROM ({finals})
  ) GROUP BY 1
)"""
        )
        parts.append(
            f"""v{t} AS MATERIALIZED (
  SELECT a.piece, greatest(coalesce(m.cnt, 0), 1)::BIGINT AS cnt
  FROM chars a LEFT JOIN m{t} m ON a.piece = m.piece
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM m{t} WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {keep_multi})
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT "rank", piece, cnt FROM (
  SELECT row_number() OVER (ORDER BY cnt DESC, piece)::INT AS "rank",
         piece, cnt::BIGINT AS cnt
  FROM v{n_iters}
) WHERE "rank" <= {top_k}"""
    )


TEXT_UNIGRAM_VOCAB_SQL = _unigram_oracle_sql()


@gate("text_unigram_vocab", oracle=TEXT_UNIGRAM_VOCAB_SQL)
def text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a unigram-LM piece vocabulary over documents.text — see
    operators/tokenizer.py for the scale argument (corpus collapses to
    the distinct-word table; each EM iteration = one Arrow-batched
    Viterbi map + one groupBy re-count).  Asserts the one structural
    oracle precondition on the actual input: word length <=
    UNIGRAM_MAX_WORD (the unrolled DP's position cap).  Multibyte words
    are fine — every engine in the loop (Spark UTF8String binary order,
    DuckDB binary UTF-8 collation, Python codepoint comparison) sorts
    valid UTF-8 identically because UTF-8 byte order preserves codepoint
    order, and len/substr are codepoint-based on all three; the
    ``text_unigram_vocab_mb`` gate proves it on an injected-multibyte
    corpus."""
    vocab = _unigram_full_vocab(spark, sf_dir)[:UNIGRAM_TOP_K]
    return spark.createDataFrame(vocab, "rank int, piece string, cnt long")


# --- multibyte variant: the same training run over a corpus with
# injected non-ASCII words, proving the engine/oracle pair needs no
# ASCII restriction (UTF-8 byte order == codepoint order on every
# engine; len/substr are codepoint-based on all three) -------------------

#: per-doc multibyte suffix, rotated by doc_id so different multibyte
#: words land in different documents (all words <= 9 codepoints, already
#: lowercase so the lower() normalization is a no-op on them)
_UNIGRAM_MB_SUFFIXES = (
    "naïve",
    "fußgänger 文書処理",
    "héllo über",
    "señor niño",
)


def _unigram_mb_oracle_sql() -> str:
    sfx_list = ", ".join(f"'{s}'" for s in _UNIGRAM_MB_SUFFIXES)
    src = f"""mb_src AS MATERIALIZED (
  SELECT doc_id,
         concat_ws(' ', text,
           ([{sfx_list}])[(doc_id % {len(_UNIGRAM_MB_SUFFIXES)}) + 1]
         ) AS text
  FROM documents
)"""
    return _unigram_oracle_sql(source="mb_src", extra_ctes=(src,))


TEXT_UNIGRAM_VOCAB_MB_SQL = _unigram_mb_oracle_sql()


@gate("text_unigram_vocab_mb", oracle=TEXT_UNIGRAM_VOCAB_MB_SQL)
def text_unigram_vocab_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_unigram_vocab over a multibyte-augmented corpus: each
    document's text gains a rotating non-ASCII suffix (umlauts, CJK,
    combining-free accents), then the identical hard-EM training runs.
    Green here certifies the tokenizer family handles multibyte corpora
    with no precondition beyond the DP position cap."""

    docs = _t(spark, sf_dir, "documents")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _UNIGRAM_MB_SUFFIXES]),
        (F.col("doc_id") % len(_UNIGRAM_MB_SUFFIXES) + 1).cast("int"),
    )
    aug = docs.withColumn("text", F.concat_ws(" ", F.col("text"), sfx))
    vocab = train_unigram(
        aug,
        "text",
        max_piece_len=UNIGRAM_PIECE_LEN,
        seed_multi=UNIGRAM_SEED_MULTI,
        keep_multi=UNIGRAM_KEEP_MULTI,
        n_iters=UNIGRAM_ITERS,
        top_k=UNIGRAM_TOP_K,
    )
    return spark.createDataFrame(vocab, "rank int, piece string, cnt long")


# --- tokenizer APPLY: encode the corpus with the learned models (the
# train→apply→pack completion the round-7 verdict asked for) -------------

#: the per-document word sequence with positions, normalized exactly like
#: the trainers (markers stripped, shared whitespace class)
_DOC_WORDS_CTE = f"""dw AS MATERIALIZED (
  SELECT doc_id, ws[i] AS word, i AS wpos
  FROM (SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
        FROM (SELECT doc_id,
                     list_filter(string_split_regex({_BPE_CLEAN},
                                 '[ \\t\\n\\r\\f\\x0b]+'),
                                 x -> x <> '') AS ws
              FROM documents))
)"""

#: reassemble per-word piece lists (CTE ``enc(word, pieces)``) into the
#: exploded per-document token stream with ids from ``vid(piece, id)``
_TOKEN_STREAM_SQL = """
SELECT doc_id, pos, t.piece AS piece, coalesce(v.id, 0)::INT AS token_id
FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY wpos, j)::INT AS pos,
         pieces[j] AS piece
  FROM (SELECT doc_id, wpos,
               unnest(generate_series(1, len(pieces))) AS j, pieces
        FROM dw JOIN enc USING (word))
) t LEFT JOIN vid v ON t.piece = v.piece"""


def _bpe_encode_parts(n_merges: int) -> list[str]:
    """CTE parts applying the learned merges to the distinct-word table:
    e{k} = symbol strings after replaying merge k (LEFT JOIN ON TRUE, so
    an empty m{k} — pairs ran out — leaves the strings unchanged instead
    of emptying the table like the learning stages deliberately do),
    ``enc`` = each word's final piece list, ``vid`` = the piece→id table
    (id 0 <unk>, 1..C chars in byte order, C+rank per merge, min id on
    piece collisions — mirrors tokenizer.bpe_vocab_ids)."""
    b = _BPE_B
    parts = [
        f"""e0 AS (
  SELECT word,
         {b} || array_to_string(string_split(word || chr(30), ''), {b})
         || {b} AS s
  FROM wt
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""e{k} AS MATERIALIZED (
  SELECT word,
         CASE WHEN m.a IS NULL THEN s
              ELSE replace(s, chr(31)||m.a||{b}||m.b||chr(31),
                           chr(31)||m.a||m.b||chr(31)) END AS s
  FROM e{k - 1} LEFT JOIN m{k} m ON TRUE
)"""
        )
    mall = "\n    UNION ALL ".join(
        f"SELECT {k} AS rk, a, b FROM m{k}" for k in range(1, n_merges + 1)
    )
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, string_split(trim(s, chr(31)), {b}) AS pieces
  FROM e{n_merges}
)""",
    )
    parts.append(
        """cid AS MATERIALIZED (
  SELECT piece, row_number() OVER (ORDER BY piece)::BIGINT AS id
  FROM (SELECT DISTINCT c AS piece
        FROM (SELECT unnest(string_split(word || chr(30), '')) AS c
              FROM wt))
)"""
    )
    parts.append(
        f"""vid AS MATERIALIZED (
  SELECT piece, min(id)::INT AS id FROM (
    SELECT piece, id FROM cid
    UNION ALL
    SELECT a || b AS piece, (SELECT count(*) FROM cid) + rk AS id
    FROM ({mall})
  ) GROUP BY piece
)"""
    )
    return parts


TEXT_BPE_ENCODE_SQL = (
    "WITH "
    + ",\n".join(
        _bpe_learn_parts(BPE_N_MERGES)
        + _bpe_encode_parts(BPE_N_MERGES)
        + [_DOC_WORDS_CTE]
    )
    + _TOKEN_STREAM_SQL
)


@gate("text_bpe_encode", oracle=TEXT_BPE_ENCODE_SQL)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY, BPE half: train the merge table on documents.text
    (same params as text_bpe_vocab), then encode the whole corpus with it
    — each word replayed through the merges as a chain of native
    ``replace`` calls (zero Python, zero shuffles; operators/tokenizer.
    bpe_encode), exploded to the per-document token stream.  Output:
    (doc_id, pos, piece, token_id) — the full train→apply roundtrip under
    a full value oracle that re-learns AND re-applies the merges in SQL.
    """

    docs = _t(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        F.posexplode(F.arrays_zip("pieces", "token_ids")).alias("_j", "_z"),
    ).select(
        "doc_id",
        (F.col("_j") + 1).cast("int").alias("pos"),
        F.col("_z.pieces").alias("piece"),
        F.col("_z.token_ids").cast("int").alias("token_id"),
    )


def _unigram_encode_oracle_sql(
    max_word: int = UNIGRAM_MAX_WORD,
    piece_len: int = UNIGRAM_PIECE_LEN,
    seed_multi: int = UNIGRAM_SEED_MULTI,
    keep_multi: int = UNIGRAM_KEEP_MULTI,
    n_iters: int = UNIGRAM_ITERS,
) -> str:
    """Re-learns the full vocabulary (the _unigram_oracle_sql CTEs), then
    one more Viterbi pass under the FINAL vocabulary's costs segments the
    distinct words, reassembled into the per-document token stream; ids
    are the (cnt DESC, piece ASC) vocabulary ranks."""
    vocab_sql = _unigram_oracle_sql(
        max_word, piece_len, seed_multi, keep_multi, n_iters, top_k=1
    )
    # keep only the CTE chain (drop the final top-k SELECT)
    vocab_parts = vocab_sql[len("WITH ") : vocab_sql.rindex("\nSELECT")]
    q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
    vN = f"v{n_iters}"
    parts = [
        vocab_parts,
        f"""cE AS MATERIALIZED (
  SELECT piece, (SELECT {q.format(x="sum(cnt)")} FROM {vN})
                - {q.format(x="cnt")} AS cost
  FROM {vN}
)""",
    ]
    dp_parts, finals = _unigram_dp_parts("e", "cE", max_word, piece_len)
    parts.extend(dp_parts)
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, string_split(substr(seg, 2), chr(31)) AS pieces
  FROM ({finals})
)"""
    )
    parts.append(
        f"""vid AS MATERIALIZED (
  SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece)::INT AS id
  FROM {vN}
)"""
    )
    parts.append(_DOC_WORDS_CTE)
    return "WITH " + ",\n".join(parts) + _TOKEN_STREAM_SQL


TEXT_UNIGRAM_ENCODE_SQL = _unigram_encode_oracle_sql()


@gate("text_unigram_encode", oracle=TEXT_UNIGRAM_ENCODE_SQL)
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY, unigram half: train the piece vocabulary on
    documents.text (same params as text_unigram_vocab but the FULL final
    vocabulary — the mandatory single-char pieces keep every word
    segmentable), then Viterbi-encode the corpus under the final integer
    costs (one Arrow-batched map, per-batch word memoization;
    operators/tokenizer.unigram_encode).  token_id = the piece's 1-based
    vocabulary rank.  Asserts the same structural oracle precondition as
    the vocab gate (word-length cap; multibyte is fine, see
    text_unigram_vocab)."""

    docs = _t(spark, sf_dir, "documents")
    vocab = _unigram_full_vocab(spark, sf_dir)
    enc = unigram_encode(docs, vocab, max_piece_len=UNIGRAM_PIECE_LEN)
    return enc.select(
        "doc_id",
        F.posexplode(F.arrays_zip("pieces", "token_ids")).alias("_j", "_z"),
    ).select(
        "doc_id",
        (F.col("_j") + 1).cast("int").alias("pos"),
        F.col("_z.pieces").alias("piece"),
        F.col("_z.token_ids").cast("int").alias("token_id"),
    )


#: mirrors dsir_select exactly: md5-prefix feature buckets, add-one
#: smoothed target/raw bucket models with each ln quantized once to
#: integer 1e-9 units (IEEE-identical double in), integer log-weight
#: sums, md5-coin Gumbel perturbation, and the exact rational keep
#: threshold pos*5 < total (= ceil(total/5) rows)
TEXT_DSIR_SELECT_SQL = """
WITH t AS (
  SELECT doc_id, (lang = 'en') AS tgt,
         list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tt AS (SELECT * FROM t WHERE len(toks) >= 1),
f AS (
  SELECT doc_id, tgt, u.f AS f
  FROM tt, unnest(list_concat(
    list_transform(toks, x -> 'u:' || x),
    CASE WHEN len(toks) >= 2 THEN
      list_transform(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)]),
                     p -> 'b:' || p[1] || ' ' || p[2])
    ELSE [] END)) AS u(f)
),
db AS (
  SELECT doc_id, tgt, ('0x' || substr(md5(f), 1, 8))::BIGINT % 8192 AS b,
         count(*)::BIGINT AS cnt
  FROM f GROUP BY ALL
),
raw AS (SELECT b, sum(cnt)::BIGINT AS c_r FROM db GROUP BY b),
tg AS (SELECT b, sum(cnt)::BIGINT AS c_t FROM db WHERE tgt GROUP BY b),
tot AS (SELECT (SELECT sum(cnt) FROM db)::BIGINT AS n_r,
               (SELECT coalesce(sum(cnt), 0) FROM db WHERE tgt)::BIGINT AS n_t),
model AS (
  SELECT raw.b,
         round(ln((coalesce(c_t, 0) + 1)::DOUBLE / (n_t + 8192)::DOUBLE)
               * 1e9)::BIGINT
       - round(ln((c_r + 1)::DOUBLE / (n_r + 8192)::DOUBLE)
               * 1e9)::BIGINT AS lr9
  FROM raw LEFT JOIN tg ON raw.b = tg.b CROSS JOIN tot
),
sc AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_feats,
         sum(cnt::HUGEINT * lr9)::BIGINT AS log_w9
  FROM db JOIN model ON db.b = model.b GROUP BY doc_id
),
g AS (
  SELECT doc_id, n_feats, log_w9,
         (log_w9 + round(-ln(-ln(
            (('0x' || substr(md5(doc_id::VARCHAR || ':dsir'), 1, 8))::BIGINT
             + 1) / 4294967297.0)) * 1e9)::BIGINT)::BIGINT AS score9
  FROM sc
),
r AS (
  SELECT doc_id, n_feats, log_w9, score9,
         row_number() OVER (ORDER BY score9 DESC, doc_id) - 1 AS pos,
         count(*) OVER () AS total
  FROM g
)
SELECT doc_id, n_feats, log_w9, score9, (pos + 1)::BIGINT AS sel_rank
FROM r WHERE pos * 5 < total
"""


@gate("text_dsir_select", oracle=TEXT_DSIR_SELECT_SQL)
def text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): keep the 20% of the corpus
    most like the English slice, by hashed-n-gram (unigram+bigram, 8192
    md5 buckets) importance weights target-vs-raw, realized as Gumbel
    top-k weighted sampling without replacement.  The 100 TB shape: one
    shuffle to (doc, bucket) counts feeding both models and the scoring
    join, 8192-row broadcast models, md5-coin Gumbel, and the two-phase
    distributed rank for the keep threshold — no single-task sort, no
    second corpus pass for the target side."""

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        is_target=F.col("lang") == "en",
        text_col="text",
        id_col="doc_id",
        m_buckets=8192,
        keep_num=1,
        keep_den=5,
        seed="dsir",
    )


# ===========================================================================
# text_lang_id_ngram — char-n-gram Naive-Bayes language classification
# (operators/langid.py), the round-7 verdict's "real classifier" upgrade
# of the stopword-profile heuristic.  Trained on the labelled fixture
# corpus, applied as a zero-shuffle literal-map fold; the gate output is
# the full confusion matrix (true lang × predicted lang), value-exact
# because every weight is a _qlog fixed-point integer on both engines.
# ===========================================================================

LANGID_N = 3
LANGID_TOP_K = 200


_LANGID_Q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"

TEXT_LANG_ID_NGRAM_SQL = f"""
WITH nrm AS MATERIALIZED (
  SELECT doc_id, lang,
         regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g') AS t
  FROM documents WHERE lang IS NOT NULL
),
ng AS MATERIALIZED (
  SELECT doc_id, lang, substr(t, i, {LANGID_N}) AS g
  FROM (SELECT doc_id, lang, t,
               unnest(generate_series(1, len(t) - {LANGID_N - 1})) AS i
        FROM nrm WHERE len(t) >= {LANGID_N})
),
feat AS MATERIALIZED (
  SELECT g FROM (
    SELECT g, count(*) AS c FROM ng GROUP BY 1
    ORDER BY c DESC, g LIMIT {LANGID_TOP_K})
),
lg AS MATERIALIZED (
  SELECT lang, g, count(*)::BIGINT AS cnt
  FROM ng JOIN feat USING (g) GROUP BY 1, 2
),
langs AS (SELECT DISTINCT lang FROM nrm),
tot AS (
  SELECT l.lang, coalesce(sum(lg.cnt), 0)::BIGINT AS tot
  FROM langs l LEFT JOIN lg ON l.lang = lg.lang GROUP BY 1
),
model AS MATERIALIZED (
  SELECT l.lang, f.g,
         {_LANGID_Q.format(x="coalesce(lg.cnt, 0) + 1")}
         - {_LANGID_Q.format(x=f"t.tot + {LANGID_TOP_K}")} AS w
  FROM langs l
  CROSS JOIN feat f
  LEFT JOIN lg ON lg.lang = l.lang AND lg.g = f.g
  JOIN tot t ON t.lang = l.lang
),
prior AS (
  SELECT lang,
         {_LANGID_Q.format(x="count(*)")}
         - {_LANGID_Q.format(x="(SELECT count(*) FROM nrm)")} AS p
  FROM nrm GROUP BY 1
),
hits AS MATERIALIZED (
  SELECT n.doc_id, m.lang AS cand, sum(m.w)::BIGINT AS h
  FROM ng n JOIN model m ON n.g = m.g GROUP BY 1, 2
),
sc AS (
  SELECT d.doc_id, d.lang AS true_lang, p.lang AS cand,
         p.p + coalesce(h.h, 0) AS s
  FROM nrm d CROSS JOIN prior p
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cand = p.lang
),
pred AS (
  SELECT doc_id, true_lang, cand AS pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY s DESC, cand) AS rn
    FROM sc) WHERE rn = 1
)
SELECT true_lang AS lang, pred_lang, count(*)::BIGINT AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


@gate("text_lang_id_ngram", oracle=TEXT_LANG_ID_NGRAM_SQL)
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the char-trigram profile model on documents(lang, text),
    classify every document, and emit the confusion matrix."""

    docs = _t(spark, sf_dir, "documents")
    model = train_lang_ngram(
        docs, "text", "lang", n=LANGID_N, top_k=LANGID_TOP_K
    )
    pred = lang_id_ngram(docs, model, "text")
    return (
        pred.where(F.col("lang").isNotNull())
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


PMI_MIN_COUNT = 5
PMI_TOP = 50


_PMI_Q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"

TEXT_PMI_PHRASES_SQL = f"""
WITH t AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(trim(text)),
                     '[ \\t\\n\\r\\f\\x0b]+'), x -> x <> '') AS toks
  FROM documents
),
uni AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
),
tot AS (SELECT sum(c)::BIGINT AS n FROM uni),
big AS MATERIALIZED (
  SELECT w1, w2, count(*)::BIGINT AS c12 FROM (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
          FROM t WHERE len(toks) >= 2)
  ) GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_COUNT}
)
SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
       ({_PMI_Q.format(x="b.c12")} + {_PMI_Q.format(x="tot.n")}
        - {_PMI_Q.format(x="u1.c")} - {_PMI_Q.format(x="u2.c")})::BIGINT
         AS pmi_q
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2, tot
ORDER BY pmi_q DESC, b.w1, b.w2 LIMIT {PMI_TOP}
"""


@gate("text_pmi_phrases", oracle=TEXT_PMI_PHRASES_SQL)
def text_pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over documents (functions.text.pmi_phrases):
    the top-50 adjacent word pairs by quantized-log PMI with a
    min-count-5 support floor — the word2phrase step that promotes
    high-PMI pairs to single vocabulary pieces before tokenizer
    training.  Integer fixed-point scores, (w1, w2) tie-break."""

    docs = _t(spark, sf_dir, "documents")
    return pmi_phrases(
        docs, "text", min_count=PMI_MIN_COUNT, top=PMI_TOP
    )


# ---------------------------------------------------------------------------
# text_quality_classifier — trained model-based quality filter (the GPT-3 /
# LLaMA / CCNet pipeline component): multinomial Naive Bayes over hashed
# bag-of-words (dim 64, hashing trick), trained on the 80% of docs with
# doc_id%10<8 and evaluated on the HELD-OUT 20%.  Label: y=+1 iff the doc
# uses 'fast' strictly more often than 'slow' — a comparative, collision-
# noised concept (dim 64 buckets 'slow' with 'agg'), so the held-out
# confusion matrix is non-degenerate.  All-integer Q(x)=floor(ln(x)·1e6+.5)
# fixed-point, the langid discipline → exact value oracle.
# ---------------------------------------------------------------------------

BOW_DIM = 64


def _nb_bow_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # label population must match the oracle's nrm CTE, which drops
    # empty/whitespace-only text — identical training sets by construction
    return docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.when(
            F.size(F.filter(toks, lambda x: x == "fast"))
            > F.size(F.filter(toks, lambda x: x == "slow")),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )


def _nb_bow_trained(spark: SparkSession, sf_dir: str):
    """(pinned feats, labels, trained model) at the shared gate
    parameters — built once per (session, sf_dir).
    text_quality_classifier and text_classifier_pr run the IDENTICAL
    feature walk (hashed_bow_counts at dim 64) and the IDENTICAL
    training collect (80% split, same labels).  The model is plain
    driver-side integers (no executor state); feats is eagerly pinned
    because both gates read it twice (train split + held-out split)."""

    def build(pin):
        docs = _t(spark, sf_dir, "documents")
        labels = _nb_bow_labels(spark, sf_dir)
        feats = hashed_bow_counts(docs, "text", "doc_id", dim=BOW_DIM)
        feats = pin(feats, lineage=False)
        part = F.pmod(F.col("doc_id"), F.lit(10))
        model = train_nb_bow(
            feats.filter(part < 8), labels.filter(part < 8), dim=BOW_DIM
        )
        return feats, labels, model

    return shared_build(spark, ("nb_bow", sf_dir), build)


_NB_CLS_CTES = f"""nrm AS MATERIALIZED (
  SELECT doc_id,
         string_split(
           trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g')),
           ' ') AS l
  FROM documents WHERE length(trim(text)) > 0
),
lab AS MATERIALIZED (
  SELECT doc_id,
         (CASE WHEN len(list_filter(l, x -> x = 'fast'))
                    > len(list_filter(l, x -> x = 'slow'))
               THEN 1 ELSE -1 END)::BIGINT AS y
  FROM nrm
),
tok AS (SELECT doc_id, unnest(l) AS t FROM nrm),
fe AS MATERIALIZED (
  SELECT doc_id,
         ('0x' || substr(md5('bow:' || t), 1, 8))::BIGINT % {BOW_DIM} AS d,
         count(*)::BIGINT AS c
  FROM tok GROUP BY 1, 2
),
cls AS (SELECT DISTINCT y FROM lab WHERE doc_id % 10 < 8),
cnt AS MATERIALIZED (
  SELECT l.y, f.d, sum(f.c)::BIGINT AS c
  FROM fe f JOIN lab l USING (doc_id) WHERE f.doc_id % 10 < 8
  GROUP BY 1, 2
),
dims AS (SELECT DISTINCT d FROM cnt),
tot AS (SELECT y, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
nd AS (SELECT y, count(*)::BIGINT AS n FROM lab WHERE doc_id % 10 < 8
       GROUP BY 1),
model AS MATERIALIZED (
  SELECT c.y, dm.d,
         {_LANGID_Q.format(x="coalesce(cnt.c, 0) + 1")}
         - {_LANGID_Q.format(x=f"t.t + {BOW_DIM}")} AS w
  FROM cls c CROSS JOIN dims dm
  LEFT JOIN cnt ON cnt.y = c.y AND cnt.d = dm.d
  JOIN tot t ON t.y = c.y
),
prior AS (
  SELECT y, {_LANGID_Q.format(x="n")}
            - {_LANGID_Q.format(x="(SELECT sum(n) FROM nd)")} AS p
  FROM nd
),
hits AS MATERIALIZED (
  SELECT f.doc_id, m.y AS cand, sum(m.w * f.c)::BIGINT AS h
  FROM fe f JOIN model m ON m.d = f.d WHERE f.doc_id % 10 >= 8
  GROUP BY 1, 2
),
sc AS (
  SELECT l.doc_id, l.y AS true_y, p.y AS cand,
         p.p + coalesce(h.h, 0) AS s
  FROM (SELECT * FROM lab WHERE doc_id % 10 >= 8
          AND doc_id IN (SELECT doc_id FROM fe)) l
  CROSS JOIN prior p
  LEFT JOIN hits h ON h.doc_id = l.doc_id AND h.cand = p.y
)"""

TEXT_QUALITY_CLASSIFIER_SQL = f"""
WITH {_NB_CLS_CTES},
pr AS (
  SELECT doc_id, true_y, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY s DESC, cand ASC) AS rn
    FROM sc) WHERE rn = 1
)
SELECT true_y AS label, pred, count(*)::BIGINT AS n
FROM pr GROUP BY 1, 2 ORDER BY 1, 2
"""


@gate("text_quality_classifier", oracle=TEXT_QUALITY_CLASSIFIER_SQL)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train NB on the 80% split, classify the held-out 20%, emit the
    held-out confusion matrix.  Train = ONE (label, bucket) aggregation
    (≤ dim×2 rows to the driver); apply = one broadcast join + one
    groupBy(doc).  See operators/classify.py."""

    feats, labels, model = _nb_bow_trained(spark, sf_dir)
    part = F.pmod(F.col("doc_id"), F.lit(10))
    pred = nb_bow_predict(
        feats.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8), model
    )
    return (
        pred.join(labels.filter(part >= 8), "doc_id")
        .groupBy(F.col("y").alias("label"), "pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "pred")
    )


@gate("text_quality_pipeline_ml", oracle=TEXT_QUALITY_CLASSIFIER_SQL)
def text_quality_pipeline_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml Pipeline interop twin of text_quality_classifier
    (round-12 verdict task 5): the SAME NB train/apply, but driven
    through the stock Estimator/Transformer surface —
    ``Pipeline(stages=[NbBowClassifier]).fit(train)`` then
    ``model.transform(held_out)`` — with a PipelineModel save/load
    round-trip INSIDE the gate, so the driver-graded value proves the
    persisted artifact, not just the in-memory stage.  Shares
    TEXT_QUALITY_CLASSIFIER_SQL verbatim: the stage is plumbing around
    the identical all-integer kernel (pytest pins fit/transform ==
    library bit-for-bit; ml_interop.py)."""

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    labeled = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        "text",
        F.when(
            F.size(F.filter(toks, lambda x: x == "fast"))
            > F.size(F.filter(toks, lambda x: x == "slow")),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    part = F.pmod(F.col("doc_id"), F.lit(10))
    fitted = Pipeline(stages=[NbBowClassifier(dim=BOW_DIM)]).fit(
        labeled.filter(part < 8)
    )
    with tempfile.TemporaryDirectory() as td:
        fitted.write().overwrite().save(td)
        model = PipelineModel.load(td)
        held = labeled.filter(part >= 8)
        out = (
            model.transform(held)
            .filter(F.col("pred").isNotNull())
            .groupBy(F.col("y").alias("label"), "pred")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy("label", "pred")
        )
        # materialize before the tmp model dir dies (the loaded stage's
        # weights are driver-side JSON, but keep the contract explicit)
        out = out.localCheckpoint(eager=True)
    return out


PR_BUCKETS = 8


TEXT_CLASSIFIER_PR_SQL = f"""
WITH {_NB_CLS_CTES},
mg AS MATERIALIZED (
  SELECT doc_id, true_y,
         sum(CASE WHEN cand = 1 THEN s ELSE -s END)::BIGINT AS m
  FROM sc GROUP BY 1, 2
),
ext AS (SELECT min(m) AS lo, max(m) AS hi FROM mg),
bk AS (SELECT true_y,
              ((m - (SELECT lo FROM ext)) * {PR_BUCKETS})
                // ((SELECT hi - lo + 1 FROM ext)) AS b
       FROM mg),
ag AS (SELECT b,
              sum(CASE WHEN true_y = 1 THEN 1 ELSE 0 END)::BIGINT AS pos,
              sum(CASE WHEN true_y = -1 THEN 1 ELSE 0 END)::BIGINT AS neg
       FROM bk GROUP BY 1),
cm AS (SELECT b,
              (SELECT lo FROM ext)
                + (b * (SELECT hi - lo + 1 FROM ext) + {PR_BUCKETS} - 1)
                  // {PR_BUCKETS} AS thr_lo,
              sum(pos) OVER (ORDER BY b DESC) AS tp,
              sum(neg) OVER (ORDER BY b DESC) AS fp,
              (SELECT sum(pos) FROM ag)
                - sum(pos) OVER (ORDER BY b DESC) AS fn
       FROM ag)
SELECT b::BIGINT AS b, thr_lo::BIGINT AS thr_lo,
       tp::BIGINT AS tp, fp::BIGINT AS fp, fn::BIGINT AS fn,
       ((2 * 1000000 * tp + (tp + fp)) // (2 * (tp + fp)))::BIGINT
         AS precision_ppm,
       ((2 * 1000000 * tp + (tp + fn)) // (2 * (tp + fn)))::BIGINT
         AS recall_ppm
FROM cm ORDER BY b DESC
"""


@gate("text_classifier_pr", oracle=TEXT_CLASSIFIER_PR_SQL)
def text_classifier_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the trained NB quality filter on the
    HELD-OUT split — the threshold-tuning stage that precedes unleashing
    a filter on 100 TB.  Scores quantize into PR_BUCKETS equal-width
    integer bins: ONE bounded groupBy + a window over ≤ PR_BUCKETS rows;
    every ratio is integer HALF_UP ppm.  See classify.nb_bow_score /
    classify.pr_curve."""

    feats, labels, model = _nb_bow_trained(spark, sf_dir)
    part = F.pmod(F.col("doc_id"), F.lit(10))
    scored = nb_bow_score(
        feats.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= 8), model
    ).join(labels.filter(part >= 8), "doc_id")
    return pr_curve(scored, "margin", "y", n_buckets=PR_BUCKETS)
