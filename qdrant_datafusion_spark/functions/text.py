"""Text-analysis kernels: MATCH_TEXT relevance (reference
tests/bin/tests.sql:210-214) plus the training-data-pipeline surface
(token counting, quality scoring, language-ID, document fingerprinting).

All pure native Column expressions — tokenization via split/regexp,
hashing via md5 (chosen deliberately: md5 exists bit-for-bit identical in
DuckDB, so every kernel here is oracle-checkable; xxhash64 would be faster
but engine-specific).  At 100 TB these run inside WholeStageCodegen over
the scan with zero shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.distance import _as_col, ColumnOrName

#: Explicit whitespace class — byte-identical semantics across Java
#: regex (Spark), RE2 (DuckDB string_split_regex), and Python re.  Java
#: ``\s`` already equals this set, but RE2's ``\s`` lacks ``\x0b``, so
#: every oracle must spell the class out; keeping the Spark side on the
#: same literal makes the cross-engine contract self-evident.
TOKEN_PATTERN = "[ \\t\\n\\r\\f\\x0b]+"
#: BPE-ish word/punct splitter for token_count(mode="bpe"): runs of word
#: chars, or single non-space punctuation marks.
BPE_PATTERN = "[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokens of a trimmed, lowercased text; empty text → []."""
    t = F.lower(F.trim(_as_col(text)))
    return F.filter(F.split(t, TOKEN_PATTERN), lambda x: x != "")


def token_count(text: ColumnOrName, mode: str = "whitespace") -> Column:
    """Token count — ``whitespace`` (split on runs of spaces) or ``bpe``
    (word-chunks + punctuation marks, a BPE-style pre-tokenization)."""
    if mode == "whitespace":
        return F.size(tokens(text))
    if mode == "bpe":
        return F.regexp_count(_as_col(text), F.lit(BPE_PATTERN))
    raise ValueError(f"unknown token mode {mode!r}")


def match_text(text: ColumnOrName, query: str) -> Column:
    """Term-overlap relevance — ``MATCH_TEXT(field, 'query terms')``
    (tests/bin/tests.sql:210-214).

    Score = |query terms present in text| / |query terms| in [0, 1].
    Presence is token-exact (not substring), case-insensitive.
    """
    # distinct terms (order-preserving): the SQL MATCH_TEXT surface uses
    # array_distinct, so repeated query terms must not double-count here
    qterms = list(dict.fromkeys(t for t in query.lower().split() if t))
    if not qterms:
        return F.lit(0.0)
    toks = tokens(text)
    hits: Column = F.array_contains(toks, qterms[0]).cast("int")
    for t in qterms[1:]:
        hits = hits + F.array_contains(toks, t).cast("int")
    return hits.cast("double") / F.lit(float(len(qterms)))


def quality_score(text: ColumnOrName, stopwords: Sequence[str] = ()) -> Column:
    """Heuristic document-quality score in [0, 1]:

    0.4 * length_score   (saturating at 1000 chars)
    + 0.3 * alpha_ratio  (alphabetic+space chars / all chars)
    + 0.3 * stopword_hit (fraction of given stopwords present; 0 if none given)

    The standard cheap pre-filter shape for training-data curation.
    """
    t = _as_col(text)
    n = F.length(t).cast("double")
    length_score = F.least(n / F.lit(1000.0), F.lit(1.0))
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z ]", "")).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    if stopwords:
        toks = tokens(t)
        hits: Column = F.array_contains(toks, stopwords[0]).cast("int")
        for s in stopwords[1:]:
            hits = hits + F.array_contains(toks, s).cast("int")
        stop_score = hits.cast("double") / F.lit(float(len(stopwords)))
    else:
        stop_score = F.lit(0.0)
    return (
        F.lit(0.4) * length_score + F.lit(0.3) * alpha_ratio + F.lit(0.3) * stop_score
    )


#: tiny per-language stopword profiles for the n-gram/stopword language-ID
#: heuristic.  Deliberately small — language ID here is a *pipeline* op
#: (cheap scoring at scale), not a linguistics library.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "es": ("el", "la", "los", "las", "y", "de", "que", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht"),
    "zh": ("de", "shi", "le", "zai", "you", "wo", "ta", "men"),
}


def language_score(text: ColumnOrName, lang: str) -> Column:
    """Fraction of ``lang``'s stopword profile present in the text."""
    profile = LANG_PROFILES[lang]
    toks = tokens(text)
    hits: Column = F.array_contains(toks, profile[0]).cast("int")
    for s in profile[1:]:
        hits = hits + F.array_contains(toks, s).cast("int")
    return hits.cast("double") / F.lit(float(len(profile)))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a pre-tokenized array column."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: ColumnOrName, k: int = 3) -> Column:
    """Distinct k-word shingles of a text (the MinHash/Jaccard unit).

    One ``regexp_extract_all`` lookahead walk over the whitespace-
    normalized text (``(?=(\\S+ ... \\S+))\\S+ ?`` — the capture peeks k
    space-joined tokens, the consumed ``\\S+ ?`` advances one token), so
    the whole row costs a single C regex pass instead of an interpreted
    higher-order ``concat_ws(slice(tokens))`` per position (guide §4.1 —
    HOFs are not codegen'd; measured ~1.5× on the sf0.1 shingle explode,
    bit-identical arrays including order).  Equivalent to
    ``shingles_from_tokens(tokens(text), k)``: the normalization mirrors
    ``tokens`` (lower + trim + collapse the Java ``\\s`` class to single
    spaces), and ``array_distinct`` keeps first-occurrence order the way
    the HOF form did.  Null text keeps the empty-array contract.
    """
    norm = F.regexp_replace(
        F.lower(F.trim(_as_col(text))), TOKEN_PATTERN, " "
    )
    pat = r"(?s)(?=(" + r"\S+ " * (k - 1) + r"\S+))\S+ ?"
    return F.when(
        norm.isNotNull(),
        F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1)),
    ).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(text: ColumnOrName, k: int = 3) -> Column:
    """Deterministic content fingerprint: min md5 over the text's k-word
    shingles (a 1-hash MinHash — the classic "document signature" for
    near-dup bucketing).  Empty/short text falls back to md5 of the
    normalized text itself."""
    norm_text = F.lower(F.trim(_as_col(text)))
    return F.element_at(
        F.transform(
            F.array(word_shingles(text, k)),  # let-bind: evaluate shingles once
            lambda sh: F.when(
                F.size(sh) > 0, F.array_min(F.transform(sh, lambda s: F.md5(s)))
            ).otherwise(F.md5(norm_text)),
        ),
        1,
    )


def vocab_stats(df, text_col: str, id_col: str, top_n: int = 25):
    """Corpus vocabulary: top-``top_n`` tokens by total term frequency with
    document frequency — the tokenizer-building / corpus-profiling stage of
    a training-data pipeline.  One explode + one aggregation; the shuffle
    key is the token, counts combine map-side, so this scales to any corpus
    the cluster can scan.  Ties break by token text for determinism."""
    tok = df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(top_n)
    )


def tfidf_rank(df, text_col: str, id_col: str, query: str, k: int = 10):
    """TF-IDF ranked retrieval for a literal query — the scale path behind
    ``MATCH_TEXT`` (reference tests/bin/tests.sql:210-214): score(doc) =
    Σ_t tf(t, doc) · ln(N / df(t)) over the query's terms.

    Term frequencies come from codegen'd ``regexp_count`` (whitespace-
    bounded, == whitespace-token equality); document frequencies are one
    tiny corpus aggregate broadcast back over the scan, so the only wide
    operation is the final top-k.  Terms appearing in no document
    contribute 0 (df = 0 guard).  Fixed left-to-right term order keeps the
    double sum bit-deterministic for oracle comparison."""
    import re as _re

    qterms = list(dict.fromkeys(t for t in query.lower().split() if t))
    if not qterms:
        raise ValueError("tfidf_rank requires a non-empty query")
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col(text_col))), F.lit(" "))
    tf_cols = [
        F.regexp_count(padded, F.lit(f"(?<=\\s){_re.escape(t)}(?=\\s)")).alias(f"_tf{i}")
        for i, t in enumerate(qterms)
    ]
    with_tf = df.select(F.col(id_col), *tf_cols)
    stats = with_tf.agg(
        F.count("*").alias("_n"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).alias(f"_df{i}")
            for i in range(len(qterms))
        ],
    )
    score = None
    for i in range(len(qterms)):
        term = F.when(
            F.col(f"_df{i}") > 0,
            F.col(f"_tf{i}").cast("double")
            * F.log(F.col("_n").cast("double") / F.col(f"_df{i}").cast("double")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bm25_rank(
    df,
    text_col: str,
    id_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 ranked retrieval — the tf-saturating, length-normalized
    upgrade of :func:`tfidf_rank` (the scoring most production text
    retrieval actually runs):

    ``score(doc) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with ``idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`` (the
    non-negative Lucene form).

    Same execution shape as tfidf_rank — per-term codegen'd
    ``regexp_count`` tf (no explode), document length from the token
    count, one tiny corpus aggregate (N, avgdl, per-term df) broadcast
    back over the scan, top-k via TakeOrderedAndProject.  Zero wide
    operations besides the final top-k; terms in no document contribute
    0.  Fixed left-to-right term order keeps the double sum
    bit-deterministic for oracle comparison.
    """
    import re as _re

    qterms = list(dict.fromkeys(t for t in query.lower().split() if t))
    if not qterms:
        raise ValueError("bm25_rank requires a non-empty query")
    padded = F.concat(F.lit(" "), F.lower(F.trim(F.col(text_col))), F.lit(" "))
    tf_cols = [
        F.regexp_count(padded, F.lit(f"(?<=\\s){_re.escape(t)}(?=\\s)")).alias(f"_tf{i}")
        for i, t in enumerate(qterms)
    ]
    with_tf = df.select(
        F.col(id_col), token_count(text_col).cast("double").alias("_dl"), *tf_cols
    )
    stats = with_tf.agg(
        F.count("*").alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("int")).alias(f"_df{i}")
            for i in range(len(qterms))
        ],
    )
    avgdl = F.col("_sumdl") / F.col("_n").cast("double")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / avgdl)
    score = None
    for i in range(len(qterms)):
        tf = F.col(f"_tf{i}").cast("double")
        dfi = F.col(f"_df{i}").cast("double")
        idf = F.log(
            (F.col("_n").cast("double") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
            + F.lit(1.0)
        )
        term = F.when(
            F.col(f"_df{i}") > 0, idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Text cleaning: PII redaction + markup stripping (the scrub stage every
# web-scale corpus runs before training).  Patterns stay inside the
# Java-regex ∩ RE2 common subset (no lookaround), so the same pattern
# strings drive both the Spark kernels and the DuckDB oracle.
# ---------------------------------------------------------------------------

#: redaction order matters: emails first (contain digits/dots), then IPs
#: (pure digit-dot runs), then the looser phone shape
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9.() -]{6,}[0-9]"),
)

MARKUP_PATTERN = r"<[^>]+>"
ENTITY_PATTERN = r"&[A-Za-z]+;"


def redact_pii(text: ColumnOrName, token: str = "[PII]") -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    ``token`` — chained native ``regexp_replace`` (codegen'd, no UDF)."""
    out = _as_col(text)
    for _, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: ColumnOrName) -> Column:
    """Struct of per-category PII match counts (audit signal: redaction
    rates per source are a standard curation health metric)."""
    t = _as_col(text)
    return F.struct(
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS
        ]
    )


def strip_markup(text: ColumnOrName) -> Column:
    """Drop HTML/XML tags and named entities, then collapse the
    whitespace the removal leaves behind."""
    t = _as_col(text)
    t = F.regexp_replace(t, MARKUP_PATTERN, " ")
    t = F.regexp_replace(t, ENTITY_PATTERN, " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def clean_text(text: ColumnOrName, token: str = "[PII]") -> Column:
    """The full scrub: strip markup, then redact PII — one narrow
    projection of chained regexp_replace calls."""
    return redact_pii(strip_markup(text), token)


def pmi_phrases(
    df,
    text_col: str = "text",
    min_count: int = 5,
    top: int = 50,
):
    """Collocation mining (word2phrase shape): the ``top`` adjacent word
    pairs by pointwise mutual information, ``PMI ∝ ln c12 + ln N − ln c1
    − ln c2``, restricted to pairs seen at least ``min_count`` times —
    the phrase-vocabulary step that runs before tokenizer training so
    "new york" becomes one piece.

    Scores are the repo's quantized-log fixed point (``floor(ln·10⁶ +
    0.5)`` per factor, integer adds after) so ranking and values are
    bit-identical cross-engine; ties break (w1, w2) ascending.

    Scale: one explode each for bigrams and unigrams (both map-side
    combined to per-partition distinct counts before their exchanges),
    two word-keyed joins to attach c1/c2 (AQE picks broadcast while the
    vocabulary fits, shuffle-hash beyond), a 1-row token-total
    broadcast, and a TakeOrderedAndProject for the top slice — no
    global sort, nothing driver-side.
    """
    toks = df.select(tokens(text_col).alias("_t")).where(F.size("_t") >= 1)
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    total = uni.agg(F.sum("c").cast("long").alias("_n"))
    big = (
        toks.where(F.size("_t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_t) - 2),"
                    " i -> struct(_t[i] AS w1, _t[i + 1] AS w2))"
                )
            ).alias("_b")
        )
        .select("_b.w1", "_b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    q = "CAST(floor(ln({x}) * 1000000 + 0.5) AS BIGINT)"
    j = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
    )
    pmi = (
        F.expr(q.format(x="c12"))
        + F.expr(q.format(x="_n"))
        - F.expr(q.format(x="c1"))
        - F.expr(q.format(x="c2"))
    )
    return (
        j.select(
            "w1", "w2", "c12", "c1", "c2",
            pmi.cast("bigint").alias("pmi_q"),
        )
        .orderBy(F.desc("pmi_q"), "w1", "w2")
        .limit(top)
    )
