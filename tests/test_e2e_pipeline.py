"""End-to-end curation pipeline: clean → quality-cut → perplexity-gate →
trained-classifier gate → exact dedup → near-dup keep-best →
substring-span gate → paragraph-dedup rewrite → SemDeDup →
decontaminate → pack → split → global shuffle.

Every stage is an individually-gated operator; this test proves they
COMPOSE — schemas line up across stages, filters stay monotone, the
final artifact satisfies its invariants, and the whole chained flow is
bit-deterministic end-to-end (re-running it yields the identical
artifact, the property that makes a 100 TB pipeline resumable and
auditable).  It doubles as the library's executable usage example.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qdrant_datafusion_spark.functions.text import clean_text, quality_score
from qdrant_datafusion_spark.operators.classify import (
    hashed_bow_counts,
    nb_bow_predict,
    train_nb_bow,
)
from qdrant_datafusion_spark.operators.dedup import (
    dup_clusters,
    exact_dedup,
    minhash_lsh_dups,
    paragraph_dedup_global,
    select_canonical,
    semantic_dedup,
    substring_dup_spans,
)
from qdrant_datafusion_spark.operators.pipeline import (
    decontaminate,
    global_shuffle,
    hash_split,
    lm_perplexity,
    pack_sequences,
    quality_percentile_filter,
)

BUDGET = 256
#: the 8 seeded literal centroids the dedup_semantic gate uses
SEM_CENTROIDS_SEEDS = range(60, 68)


def run_pipeline(spark, sf_dir):
    from qdrant_datafusion_spark.entry_queries._common import _seeded_vec

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 1. clean: PII redaction + markup strip (text changes, ids stay)
    cleaned = docs.withColumn("text", clean_text("text"))

    # 2. per-source relative quality cut: drop each source's worst 20%
    q12 = (
        quality_score("text", stopwords=("the", "a")).cast("decimal(18,12)")
        * F.lit(10**12)
    ).cast("long")
    scored = cleaned.withColumn("q12", q12)
    quality_kept = quality_percentile_filter(
        scored, "q12", by="source", keep_frac=0.8
    ).localCheckpoint(eager=False)

    # 2a. LM-perplexity gate (CCNet shape): corpus-trained bigram LM,
    #     drop the worst-fluency decile (bucket 10 of 10).  Identical
    #     texts score identically, so dup families live or die together
    #     and later dedup stages stay exercised.
    ppl = lm_perplexity(quality_kept, "text", "doc_id", n_buckets=10)
    ppl_kept = quality_kept.join(
        ppl.filter(F.col("ppl_bucket") < 10).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)

    # 2b. TRAINED quality filter: hashed-BoW NB fit on a synthetic
    #     comparative label (docs not 'slow'-heavy = positive — the
    #     majority class, so downstream dedup stages stay populated);
    #     identical texts score identically, so dup families survive
    #     together and later dedup stages stay exercised.
    from qdrant_datafusion_spark.functions.text import tokens as _toks

    tk = _toks(F.col("text"))
    labels = ppl_kept.select(
        "doc_id",
        F.when(
            F.size(F.filter(tk, lambda x: x == "slow"))
            > F.size(F.filter(tk, lambda x: x == "fast")),
            F.lit(-1),
        ).otherwise(F.lit(1)).cast("long").alias("y"),
    )
    feats = hashed_bow_counts(ppl_kept, "text", "doc_id", dim=64)
    model = train_nb_bow(feats, labels, dim=64)
    clf_kept = ppl_kept.join(
        nb_bow_predict(feats, model).filter("pred = 1").select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=False)

    # 3. exact dedup: keep one row per distinct normalized content
    exact_ids = exact_dedup(clf_kept, "text", "doc_id").select("doc_id")
    exact_kept = clf_kept.join(exact_ids, "doc_id").localCheckpoint(
        eager=False
    )

    # 4. near-dup keep-best: MinHash pairs → components → quality argmax
    pairs = minhash_lsh_dups(
        exact_kept, "text", "doc_id", k=3, num_hashes=32, bands=16, threshold=0.2
    )
    clusters = dup_clusters(pairs)
    canon = select_canonical(exact_kept, clusters, "doc_id", F.col("q12"))
    near_kept = exact_kept.join(
        canon.filter("kept").select(F.col("id").alias("doc_id")), "doc_id"
    ).localCheckpoint(eager=False)

    # 4a. substring-span gate AFTER document-level dedup: with whole-doc
    #     near-dups already collapsed, what the span stats flag now is
    #     residual partial boilerplate (repeated headers/footers) — the
    #     thing document-level dedup cannot see.  (Run BEFORE keep-best
    #     it would eat the near-dup families and starve that stage.)
    spans = substring_dup_spans(near_kept, "text", "doc_id", k=5)
    heavy = spans.filter(
        F.col("covered_tokens") * 2 > F.col("n_tokens")
    ).select("doc_id")
    span_kept = near_kept.join(heavy, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    # 4a'. paragraph-dedup rewrite: with whole-doc dups gone, drop every
    #      later occurrence of each distinct 4-word unit corpus-wide and
    #      REWRITE survivors (aligned-unit boilerplate the span flag
    #      above only measures).  Units are 4-word windows because the
    #      synthetic corpus is single-line (the gate's segmentation).
    from qdrant_datafusion_spark.entry_queries.dedup import _word_windows

    paras = paragraph_dedup_global(
        span_kept, id_col="doc_id", units=_word_windows(F.col("text"), 4)
    )
    para_kept = span_kept.drop("text").join(
        paras.filter("n_kept > 0").select(
            "doc_id", F.col("kept_text").alias("text")
        ),
        "doc_id",
    ).localCheckpoint(eager=False)

    # 4b. SemDeDup: embedding-level semantic duplicates (paraphrases the
    #     token-level stages cannot see).  The synthetic fixture keys
    #     embeddings by the same id space as documents.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = [_seeded_vec(64, s) for s in SEM_CENTROIDS_SEEDS]
    sem = semantic_dedup(emb, "embedding", "vec_id", centroids, threshold=0.35)
    sem_kept = para_kept.join(
        sem.filter(F.col("dropped") == 1).select(F.col("vec_id").alias("doc_id")),
        "doc_id",
        "left_anti",
    ).localCheckpoint(eager=False)

    # 5. decontaminate against a deterministic pseudo-benchmark
    benchmark = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    decon = decontaminate(sem_kept, benchmark, "text", "doc_id", k=5, min_hits=1)
    final = sem_kept.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)

    # 6. pack into training sequences; 7. split train/val/test;
    # 8. deterministic global shuffle = the training read order
    packed = pack_sequences(final, "doc_id", "text", budget=BUDGET, num_buckets=4)
    split = hash_split(final, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    shuffled = global_shuffle(final.select("doc_id", "text"), "doc_id", seed=1)

    # 7a. leakage-safe split: the step-4 pair table's components land
    #     whole; 7b. which sources duplicate which (same pair table)
    from qdrant_datafusion_spark.operators.dedup import source_overlap
    from qdrant_datafusion_spark.operators.pipeline import group_split

    gsplit = group_split(
        final, pairs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    overlap = source_overlap(
        final, "text", "doc_id", "source", pairs=pairs
    )
    return (
        docs, quality_kept, ppl_kept, clf_kept, exact_kept, near_kept,
        span_kept, para_kept, sem_kept, final, packed, split, shuffled,
        gsplit, overlap,
    )


class TestCurationPipeline:
    @pytest.fixture(scope="class")
    def flow(self, spark, sf_dir):
        return run_pipeline(spark, sf_dir)

    def test_stages_monotone_and_subset(self, flow):
        filtering = flow[:10]  # docs .. final — each stage only removes rows
        counts = [df.count() for df in filtering]
        assert counts == sorted(counts, reverse=True)
        assert counts[-1] > 0
        prev = None
        for df in filtering:
            ids = {r.doc_id for r in df.select("doc_id").collect()}
            if prev is not None:
                assert ids <= prev
            prev = ids

    def test_near_dup_stage_really_dropped_a_duplicate(self, flow):
        exact_kept, near_kept, span_kept = flow[4], flow[5], flow[6]
        # the sf fixture plants organic near-dup families that survive the
        # exact stage; keep-best must remove at least their non-canonical
        # members, or the stage is a no-op and the test is vacuous
        assert near_kept.count() < exact_kept.count()
        assert span_kept.count() <= near_kept.count()

    def test_paragraph_stage_really_rewrote(self, flow):
        span_kept, para_kept = flow[6], flow[7]
        # the rewrite must be active: the surviving corpus carries fewer
        # tokens than before (cross-doc 4-word boilerplate removed)
        before = sum(
            len(r.text.split()) for r in span_kept.select("text").collect()
        )
        after = sum(
            len(r.text.split()) for r in para_kept.select("text").collect()
        )
        assert after < before
        assert para_kept.count() <= span_kept.count()

    def test_semantic_stage_really_dropped_a_duplicate(self, flow):
        para_kept, sem_kept = flow[7], flow[8]
        # the embedding fixture's planted similarity structure sits at
        # cosine ~0.35+ (the dedup_embedding gate's threshold); at that
        # ball at least one survivor of the token-level stages must fall
        # to SemDeDup (else the stage is vacuously wired)
        assert sem_kept.count() < para_kept.count()

    def test_pack_budget_invariant(self, flow):
        final, packed = flow[9], flow[10]
        rows = packed.collect()
        assert {r.doc_id for r in rows} == {
            r.doc_id for r in final.select("doc_id").collect()
        }  # packing maps every final doc exactly once
        fills: dict[tuple, int] = {}
        for r in rows:
            fills[(r.bucket, r.pack_id)] = fills.get((r.bucket, r.pack_id), 0) + r.n_tokens
        over = {k: v for k, v in fills.items() if v > BUDGET}
        # a pack may exceed budget only when a single doc alone does
        singles = {
            (r.bucket, r.pack_id)
            for r in rows
            if r.n_tokens > BUDGET
        }
        assert set(over) <= singles, (over, singles)

    def test_split_partitions_the_final_set(self, flow):
        split = flow[11]
        n = split.count()
        by = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(by.values()) == n
        assert set(by) <= {"train", "val", "test"}
        assert by.get("train", 0) > 0.7 * n  # 90% weight, generous tolerance

    def test_shuffle_is_a_permutation_of_the_final_set(self, flow):
        final, shuffled = flow[9], flow[12]
        rows = shuffled.collect()
        assert sorted(r.pos for r in rows) == list(range(len(rows)))
        assert {r.doc_id for r in rows} == {
            r.doc_id for r in final.select("doc_id").collect()
        }

    def test_group_split_is_leakage_safe_and_consistent(self, flow):
        final, split, gsplit = flow[9], flow[11], flow[13]
        rows = gsplit.select("doc_id", "group_id", "split").collect()
        assert {r.doc_id for r in rows} == {
            r.doc_id for r in final.select("doc_id").collect()
        }
        by_group: dict[int, set] = {}
        for r in rows:
            by_group.setdefault(r.group_id, set()).add(r.split)
        # the leakage property: one split per near-dup component
        assert all(len(v) == 1 for v in by_group.values())
        # docs that ARE their own representative keep hash_split's exact
        # assignment (same weights + seed) — the two splits are diffable
        plain = {r.doc_id: r.split for r in split.collect()}
        for r in rows:
            if r.group_id == r.doc_id:
                assert r.split == plain[r.doc_id]

    def test_source_overlap_is_consistent_with_the_pair_table(self, flow):
        final, overlap = flow[9], flow[14]
        cells = overlap.collect()
        src = {r.doc_id: r.source for r in final.select("doc_id", "source").collect()}
        # recompute the directional cells from the surviving pair rows
        exact_kept = flow[4]
        from qdrant_datafusion_spark.operators.dedup import minhash_lsh_dups

        pair_rows = [
            (r.id_a, r.id_b)
            for r in minhash_lsh_dups(
                exact_kept, "text", "doc_id",
                k=3, num_hashes=32, bands=16, threshold=0.2,
            ).select("id_a", "id_b").collect()
            if r.id_a in src and r.id_b in src
        ]
        want_links: dict[tuple, int] = {}
        want_docs: dict[tuple, set] = {}
        for a, b in pair_rows:
            for sa, sb, d in ((src[a], src[b], a), (src[b], src[a], b)):
                want_links[(sa, sb)] = want_links.get((sa, sb), 0) + 1
                want_docs.setdefault((sa, sb), set()).add(d)
        got = {(r.source_a, r.source_b): (r.n_links, r.n_docs) for r in cells}
        assert got == {
            k: (want_links[k], len(want_docs[k])) for k in want_links
        }
        totals = {}
        for d, sa in src.items():
            totals[sa] = totals.get(sa, 0) + 1
        for r in cells:
            assert r.n_src_docs == totals[r.source_a]

    def test_pipeline_is_deterministic_end_to_end(self, spark, sf_dir, flow):
        import hashlib

        import pandas as pd

        def digest(df):
            pdf = df.toPandas().reindex(sorted(df.columns), axis=1)
            for c in pdf.columns:
                if pdf[c].dtype == object:
                    pdf[c] = pdf[c].astype(str)
            pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
            return hashlib.md5(
                pd.util.hash_pandas_object(pdf, index=False).values.tobytes()
            ).hexdigest()

        rerun = run_pipeline(spark, sf_dir)
        for i in (9, 10, 12):  # final, packed, shuffled
            assert digest(rerun[i]) == digest(flow[i]), i
        assert digest(rerun[11].select("doc_id", "split")) == digest(
            flow[11].select("doc_id", "split")
        )
