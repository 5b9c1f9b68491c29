"""Adversarial-skew 100x probe for paragraph_dedup_global.

The round-10 probe recorded 29.1x wall growth at 100x data on the
uniform replica fixture — the largest growth row in SCALE_PROBE.md.
This probe re-runs the SAME gate code on a deliberately skewed corpus:
~90% of all unit OCCURRENCES concentrated into ~1% of the distinct unit
hashes (the boilerplate regime paragraph dedup exists for — nav bars,
license headers, cookie banners repeated across most of a crawl).

Claim under test: the first-occurrence fold is a map-side-combining
``min(struct(id, pos))`` groupBy, so a hash carried by 90% of the corpus
contributes ONE partial row per map partition to the exchange — shuffle
bytes track (n_partitions x distinct hashes), never occurrences, and no
single reducer receives an occurrence-sized group.  If the combine were
missing, the skewed run's exchange would carry ~90% of all unit rows to
ONE reducer task.

Evidence recorded (appended to SCALE_PROBE.md by hand after a run):
- wall seconds base (sf0.1, organic) vs skewed 100x, growth ratio;
- measured skew geometry (distinct hashes, share of occurrences in the
  hot 1%);
- REAL exchange sizes per run (shuffle write/read bytes + records),
  read from the Spark REST API (the probe enables the UI) by diffing
  cumulative stage metrics around each timed run;
- the no-combine counterfactual: exchange records if every occurrence
  row had shuffled.

Usage: python scripts/paragraph_skew_probe.py [replicas]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: boilerplate pool: each entry is 20 words = 17 four-word windows; the
#: pool's distinct-hash mass is tuned to ~1% of the corpus's distinct
#: hashes at the default geometry (measured and reported, not assumed)
_POOL_SIZE = 12
_BOILER = [
    " ".join(f"boiler{p}w{i}" for i in range(20)) for p in range(_POOL_SIZE)
]


def _rest_stage_totals(app_id: str) -> dict[str, int]:
    """Cumulative shuffle totals across all completed stages so far."""
    url = f"http://localhost:4040/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    tot = {
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_bytes": 0,
        "shuffle_read_records": 0,
    }
    for s in stages:
        tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
        tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["shuffle_read_records"] += s.get("shuffleReadRecords", 0)
    return tot


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from bench import _ensure_sf1
    from qdrant_datafusion_spark.entry_queries.dedup import (
        PARA_W,
        _word_windows,
    )
    from qdrant_datafusion_spark.operators.dedup import paragraph_dedup_global
    from qdrant_datafusion_spark.session import get_spark

    spark = get_spark(
        app_name="paragraph-skew-probe",
        extra_conf={"spark.ui.enabled": "true"},
    )
    app_id = spark.sparkContext.applicationId

    scaled_dir, gen_sec = _ensure_sf1(spark, base_dir, replicas=replicas)
    docs100 = spark.read.parquet(
        os.path.join(scaled_dir, "documents.parquet")
    ).select("doc_id", "text")
    # 90% of docs become boilerplate drawn from the tiny pool (each doc
    # one pool entry, so each hot window hash recurs across ~90%/POOL of
    # a 500k-doc corpus); 10% keep organic text
    pool = F.array(*[F.lit(t) for t in _BOILER])
    skewed = docs100.select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) < 9,
            F.element_at(pool, (F.pmod(F.col("doc_id"), _POOL_SIZE) + 1).cast("int")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    skew_path = os.path.join(scaled_dir, "documents_skew90.parquet")
    if not os.path.exists(skew_path):
        skewed.write.mode("overwrite").parquet(skew_path)
    skewed = spark.read.parquet(skew_path)

    def units_of(df):
        return df.select(
            F.explode(
                F.filter(_word_windows(F.col("text"), PARA_W), lambda u: F.trim(u) != "")
            ).alias("u")
        )

    # measured skew geometry: share of occurrences held by the hot pool
    u = units_of(skewed)
    geom = u.agg(
        F.count("*").alias("occurrences"),
        F.count_distinct("u").alias("distinct_units"),
        F.sum(
            F.when(F.col("u").startswith("boiler"), 1).otherwise(0)
        ).alias("hot_occurrences"),
        F.count_distinct(
            F.when(F.col("u").startswith("boiler"), F.col("u"))
        ).alias("hot_distinct"),
    ).collect()[0]

    def timed(df, label: str):
        before = _rest_stage_totals(app_id)
        t0 = time.time()
        n = paragraph_dedup_global(
            df, id_col="doc_id", units=_word_windows(F.col("text"), PARA_W)
        ).count()
        wall = round(time.time() - t0, 3)
        after = _rest_stage_totals(app_id)
        ex = {k: after[k] - before[k] for k in after}
        print(f"# {label}: {wall}s rows={n} exchange={ex}", file=sys.stderr)
        return wall, n, ex

    base_docs = spark.read.parquet(
        os.path.join(base_dir, "documents.parquet")
    ).select("doc_id", "text")
    # warm the codec/codegen path once untimed
    paragraph_dedup_global(
        base_docs, id_col="doc_id", units=_word_windows(F.col("text"), PARA_W)
    ).count()

    base_wall, base_rows, base_ex = timed(base_docs, "base sf0.1 organic")
    skew_wall, skew_rows, skew_ex = timed(skewed, f"skewed {replicas}x")

    out = {
        "op": "dedup_paragraphs_global",
        "fixture": "90% of docs boilerplate from a 12-entry pool",
        "replicas": replicas,
        "gen_sec": gen_sec,
        "skew_geometry": {
            "occurrences": int(geom["occurrences"]),
            "distinct_units": int(geom["distinct_units"]),
            "hot_occurrence_share": round(
                geom["hot_occurrences"] / geom["occurrences"], 4
            ),
            "hot_distinct_share": round(
                geom["hot_distinct"] / geom["distinct_units"], 6
            ),
        },
        "base_sec": base_wall,
        "skewed_sec": skew_wall,
        "growth": round(skew_wall / base_wall, 2),
        "rows_base": base_rows,
        "rows_skewed": skew_rows,
        "exchange_base": base_ex,
        "exchange_skewed": skew_ex,
        # counterfactual: a combine-less exchange would carry every unit
        # occurrence row (plus the join-back); records >= occurrences
        "no_combine_counterfactual_records": int(geom["occurrences"]),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
