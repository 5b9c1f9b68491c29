"""Multimodal gates: byte-level media stats and the image / audio / video
fingerprint dedups over planted fixtures, plus their cross-modal
composition."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from qdrant_datafusion_spark.operators.audio import audio_energy_dups, encode_wav
from qdrant_datafusion_spark.operators.imaging import encode_png, encode_y4m
from qdrant_datafusion_spark.operators.phash import phash_image_dups
from qdrant_datafusion_spark.operators.video import video_temporal_dups
from qdrant_datafusion_spark.session import fan_out

from ._common import _t, gate

MULTIMODAL_BYTES_SQL = """
SELECT source,
       sum(octet_length(encode(text)))::BIGINT AS total_bytes,
       max(octet_length(encode(text)))::BIGINT AS max_bytes
FROM documents
GROUP BY source
"""


@gate("multimodal_bytes", oracle=MULTIMODAL_BYTES_SQL)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing check: documents as opaque binary blobs with
    typed metadata — per-source byte statistics (encode → binary column)."""
    docs = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return (
        docs.groupBy("source")
        .agg(
            F.sum(F.octet_length(blob)).alias("total_bytes"),
            F.max(F.octet_length(blob)).cast("long").alias("max_bytes"),
        )
    )


# ===========================================================================
# round-6: perceptual-hash image dedup (operators/phash.py).  The fixture
# images are planted PNGs whose integer pixel values follow a closed-form
# formula of (doc_id, y, x) — group gradient + one member-specific pixel
# bump, so each 8-member group yields near-dup pairs.  The SPARK side runs
# the REAL path (numpy pixels → encode_png → binary column → stdlib PNG
# decode → dHash → banded Hamming join); the ORACLE recomputes the 64 dHash
# bits directly from the same pixel formula (no image codec) and
# brute-forces pairs with bit_count(xor) — independent derivations meeting
# at the same integer codes.  Fixture capped at doc_id < 4096 so the
# oracle's all-pairs check stays O(4096²) at every sf.
# ===========================================================================

PHASH_DOC_CAP = 4096
PHASH_MAX_HAMMING = 4


def _phash_planted_pixels(i: int):
    """9×8 grayscale fixture image for doc ``i``: group (i//8) gradient
    base (mod 150) + a +100 bump at one member-specific pixel — flips ≤2
    gradient bits vs the group base, so within-group Hamming ≤ 4.  The
    horizontal stride is GROUP-dependent (23 + 7g mod 59, coprime-ish to
    the modulus), so different groups wrap at different columns and the
    gradient-sign codes decorrelate across groups — near-dup pairs are
    genuinely group-local, not a fixture-wide blob."""

    g, m = i // 8, i % 8
    y, x = np.mgrid[0:8, 0:9]
    stride = 23 + (g * 7) % 59
    p = ((x * stride + y * 17 + g * 53) % 150).astype(np.int32)
    if m > 0:
        p[m - 1, (g + m) % 9] += 100
    return p.astype(np.uint8)


def _phash_pairs_sql(cap: int) -> str:
    """Closed-form dHash pair oracle, cap-parametric so the cross-modal
    composition gate can reuse it at its own doc cap."""
    return f"""
WITH imgs AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
px AS (
  SELECT id, y, x,
         ((x * (23 + (g * 7) % 59) + y * 17 + g * 53) % 150)
         + CASE WHEN m > 0 AND y = m - 1 AND x = (g + m) % 9
                THEN 100 ELSE 0 END AS p
  FROM imgs,
       (SELECT unnest(generate_series(0, 7)) AS y),
       (SELECT unnest(generate_series(0, 8)) AS x)
),
bits AS (
  SELECT a.id, a.y * 8 + a.x AS k,
         CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  -- two's-complement packing: MSB-set codes go negative, matching
  -- Spark's signed bigint convention
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {PHASH_MAX_HAMMING}
"""


MULTIMODAL_PHASH_SQL = _phash_pairs_sql(PHASH_DOC_CAP)


@gate("multimodal_phash_dups", oracle=MULTIMODAL_PHASH_SQL)
def multimodal_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash near-dup image pairs over planted PNG blobs — real encoder,
    real decoder, real banded Hamming join (operators/phash.py)."""

    # no type annotations: this module's `from __future__ import
    # annotations` would stringify them and break pandas_udf inference
    _make_png = pandas_udf(
        lambda ids: pd.Series(
            [encode_png(_phash_planted_pixels(int(i))) for i in ids]
        ),
        "binary",
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < PHASH_DOC_CAP)
        .select("doc_id")
    )
    # spread BEFORE the synth-encode UDF: the whole encode→decode→hash
    # chain otherwise runs in the one-task single-row-group scan stage
    # (session.fan_out; the shuffle ships bare doc_ids).  parts sized to
    # ~128 rows/task — the caps are constants, and tiny per-task batches
    # make the Python worker roundtrip the dominant cost
    docs = fan_out(docs, "doc_id", parts=max(4, PHASH_DOC_CAP // 128))
    imgs = docs.select(
        F.col("doc_id").alias("id"), _make_png("doc_id").alias("media")
    )
    pairs = phash_image_dups(
        imgs, "media", "id", max_hamming=PHASH_MAX_HAMMING
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ===========================================================================
# round-6: audio fingerprint dedup (operators/audio.py) — same
# independent-derivation design as the pHash gate: planted WAV clips whose
# int16 samples follow a closed-form (doc_id, t) formula; Spark runs the
# REAL path (synth samples → stdlib WAV encode → binary column → stdlib
# WAV parse → integer energy-envelope hash → banded Hamming join); the
# oracle recomputes frame energies with exact BIGINT sums from the same
# formula and brute-forces pairs.  Capped at doc_id < 512 so the oracle
# materializes only ~2.1M sample rows.
# ===========================================================================

AUDIO_DOC_CAP = 512
AUDIO_MAX_HAMMING = 4
AUDIO_FRAME = 64
_AUDIO_SAMPLES = 65 * AUDIO_FRAME  # 65 frames -> 64 comparison bits


def _audio_planted_samples(i: int):
    """int16 clip for doc ``i``: group (i//8) pseudo-random-energy base
    + a half-frame +64 boost in one member-specific frame — flips ≤2
    envelope bits vs the group base, so within-group Hamming ≤ 4."""

    g, m = i // 8, i % 8
    t = np.arange(_AUDIO_SAMPLES, dtype=np.int64)
    x = (t * (3 + g % 7) + (t * t) % 101 + 13 * g) % 256 - 128
    if m > 0:
        boost = (t // AUDIO_FRAME == m * 7) & (t % AUDIO_FRAME < 32)
        x = x + 64 * boost
    return x.astype(np.int16)


def _audio_pairs_sql(cap: int) -> str:
    """Exact-BIGINT energy-envelope pair oracle, cap-parametric."""
    return f"""
WITH snd AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
tt AS (SELECT unnest(generate_series(0, {_AUDIO_SAMPLES - 1})) AS t),
samp AS (
  SELECT id, t // {AUDIO_FRAME} AS f,
         (t * (3 + g % 7) + (t * t) % 101 + 13 * g) % 256 - 128
         + CASE WHEN m > 0 AND t // {AUDIO_FRAME} = m * 7
                     AND t % {AUDIO_FRAME} < 32
                THEN 64 ELSE 0 END AS x
  FROM snd, tt
),
en AS (SELECT id, f, sum(x::BIGINT * x) AS e FROM samp GROUP BY 1, 2),
bits AS (
  SELECT a.id, a.f AS k, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.id = b.id AND b.f = a.f + 1
  WHERE a.f < 64
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {AUDIO_MAX_HAMMING}
"""


MULTIMODAL_AUDIO_SQL = _audio_pairs_sql(AUDIO_DOC_CAP)


@gate("multimodal_audio_dups", oracle=MULTIMODAL_AUDIO_SQL)
def multimodal_audio_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs over planted WAV blobs — real encoder, real
    PCM parse, exact-integer envelope hash, real banded Hamming join
    (operators/audio.py)."""

    _make_wav = pandas_udf(
        lambda ids: pd.Series(
            [encode_wav(_audio_planted_samples(int(i))) for i in ids]
        ),
        "binary",
    )
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < AUDIO_DOC_CAP)
        .select("doc_id")
    )
    # see multimodal_phash_dups (parts: ~64 rows/task of WAV encode)
    docs = fan_out(docs, "doc_id", parts=max(4, AUDIO_DOC_CAP // 64))
    clips = docs.select(
        F.col("doc_id").alias("id"), _make_wav("doc_id").alias("media")
    )
    pairs = audio_energy_dups(
        clips, "media", "id",
        max_hamming=AUDIO_MAX_HAMMING, frame_len=AUDIO_FRAME,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ===========================================================================
# round-6: video fingerprint dedup (operators/video.py) — third leg of the
# multimodal dedup trio, same independent-derivation design: planted Y4M
# clips whose luma pixels follow a closed-form (doc_id, frame, y, x)
# formula; Spark runs the REAL path (synth frames → Y4M encode → binary →
# stdlib Y4M demux → integer temporal-envelope hash → banded Hamming
# join); the oracle recomputes per-frame luma sums with exact BIGINT
# arithmetic from the same formula.  doc_id < 256, 65 frames of 16×8
# luma → the oracle materializes ~2.1M pixel rows.
# ===========================================================================

VIDEO_DOC_CAP = 256
VIDEO_MAX_HAMMING = 4
_VIDEO_W, _VIDEO_H, _VIDEO_FRAMES = 16, 8, 65


def _video_planted_frames(i: int):
    """65 16×8 mono frames for doc ``i``: group (i//8) pseudo-random
    temporal envelope + a +40 half-row boost in one member-specific
    frame — flips ≤2 envelope bits vs the group base."""

    g, m = i // 8, i % 8
    f = np.arange(_VIDEO_FRAMES)[:, None, None]
    y = np.arange(_VIDEO_H)[None, :, None]
    x = np.arange(_VIDEO_W)[None, None, :]
    lum = (x * 7 + y * 11 + f * (5 + g % 5) + (f * f) % 97 + 29 * g) % 200
    if m > 0:
        lum = lum + 40 * ((f == m * 8) & (x < 8))
    return [lum[k].astype(np.uint8) for k in range(_VIDEO_FRAMES)]


def _video_pairs_sql(cap: int) -> str:
    """Exact-BIGINT temporal-envelope pair oracle, cap-parametric."""
    return f"""
WITH vids AS (
  SELECT doc_id AS id, doc_id // 8 AS g, doc_id % 8 AS m
  FROM documents WHERE doc_id < {cap}
),
fr AS (SELECT unnest(generate_series(0, {_VIDEO_FRAMES - 1})) AS f),
yy AS (SELECT unnest(generate_series(0, {_VIDEO_H - 1})) AS y),
xx AS (SELECT unnest(generate_series(0, {_VIDEO_W - 1})) AS x),
px AS (
  SELECT id, f,
         (x * 7 + y * 11 + f * (5 + g % 5) + (f * f) % 97 + 29 * g) % 200
         + CASE WHEN m > 0 AND f = m * 8 AND x < 8 THEN 40 ELSE 0 END AS l
  FROM vids, fr, yy, xx
),
en AS (SELECT id, f, sum(l::BIGINT) AS s FROM px GROUP BY 1, 2),
bits AS (
  SELECT a.id, a.f AS k, CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.id = b.id AND b.f = a.f + 1
  WHERE a.f < 64
),
halves AS (
  SELECT id,
         sum(CASE WHEN k < 32 THEN bit * (2::BIGINT ** (31 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS hi,
         sum(CASE WHEN k >= 32 THEN bit * (2::BIGINT ** (63 - k))::BIGINT
                  ELSE 0 END)::BIGINT AS lo
  FROM bits GROUP BY id
),
codes AS MATERIALIZED (
  SELECT id,
         CASE WHEN hi >= 2147483648
              THEN (hi - 4294967296) * 4294967296 + lo
              ELSE hi * 4294967296 + lo END AS code
  FROM halves
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.code, b.code))::INT AS hamming
FROM codes a JOIN codes b ON a.id < b.id
WHERE bit_count(xor(a.code, b.code)) <= {VIDEO_MAX_HAMMING}
"""


MULTIMODAL_VIDEO_SQL = _video_pairs_sql(VIDEO_DOC_CAP)


@gate("multimodal_video_dups", oracle=MULTIMODAL_VIDEO_SQL)
def multimodal_video_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs over planted Y4M blobs — real encoder, real
    demux, exact-integer temporal hash, real banded Hamming join
    (operators/video.py)."""

    _make_y4m = pandas_udf(
        lambda ids: pd.Series(
            [encode_y4m(_video_planted_frames(int(i))) for i in ids]
        ),
        "binary",
    )
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < VIDEO_DOC_CAP)
        .select("doc_id")
    )
    # see multimodal_phash_dups (parts: ~32 rows/task of Y4M encode)
    docs = fan_out(docs, "doc_id", parts=max(4, VIDEO_DOC_CAP // 32))
    clips = docs.select(
        F.col("doc_id").alias("id"), _make_y4m("doc_id").alias("media")
    )
    pairs = video_temporal_dups(
        clips, "media", "id", max_hamming=VIDEO_MAX_HAMMING
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ===========================================================================
# round-7: cross-modal near-dup composition — the shape a real multimodal
# pipeline actually runs: ONE mixed media table (image + audio + video
# columns on the same rows), each modality deduped with its own
# fingerprint family, survivors = rows no modality marks as a duplicate.
# Duplicate rule is deterministic keep-lowest-id: a row is a dup in a
# modality iff it appears as the LARGER id of any near-dup pair there.
# The oracle composes the three cap-parametric pair oracles above at the
# shared doc cap via nested-WITH subqueries — independent derivations for
# all three fingerprints meeting in one combined result.
# ===========================================================================

CROSS_DOC_CAP = 256  # min of the three modality caps — video's oracle cost


MULTIMODAL_CROSS_SQL = f"""
WITH pi AS MATERIALIZED ({_phash_pairs_sql(CROSS_DOC_CAP)}),
pa AS MATERIALIZED ({_audio_pairs_sql(CROSS_DOC_CAP)}),
pv AS MATERIALIZED ({_video_pairs_sql(CROSS_DOC_CAP)}),
ids AS (SELECT doc_id FROM documents WHERE doc_id < {CROSS_DOC_CAP})
SELECT i.doc_id,
       i.doc_id IN (SELECT id_b FROM pi) AS dup_image,
       i.doc_id IN (SELECT id_b FROM pa) AS dup_audio,
       i.doc_id IN (SELECT id_b FROM pv) AS dup_video,
       NOT (i.doc_id IN (SELECT id_b FROM pi)
            OR i.doc_id IN (SELECT id_b FROM pa)
            OR i.doc_id IN (SELECT id_b FROM pv)) AS survivor
FROM ids i
"""


@gate("multimodal_cross_dups", oracle=MULTIMODAL_CROSS_SQL)
def multimodal_cross_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-modal dedup verdicts over one mixed media table:
    (doc_id, dup_image, dup_audio, dup_video, survivor).  Real codec
    paths for all three modalities (operators/phash.py, audio.py,
    video.py) over columns of the SAME DataFrame — the fingerprint passes
    are independent narrow maps on their columns, the three banded
    Hamming joins run off one scan, and the flag joins are dup-id-sized."""

    _png = pandas_udf(
        lambda ids: pd.Series(
            [encode_png(_phash_planted_pixels(int(i))) for i in ids]
        ),
        "binary",
    )
    _wav = pandas_udf(
        lambda ids: pd.Series(
            [encode_wav(_audio_planted_samples(int(i))) for i in ids]
        ),
        "binary",
    )
    _y4m = pandas_udf(
        lambda ids: pd.Series(
            [encode_y4m(_video_planted_frames(int(i))) for i in ids]
        ),
        "binary",
    )
    mixed = (
        fan_out(  # see multimodal_phash_dups: spread before the encodes;
            # parts: ~32 rows/task — three chained codec UDFs per task
            # make tiny batches pay 3 worker roundtrips each (measured
            # 3-4x slower at full 32-way spread of 256 rows)
            _t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < CROSS_DOC_CAP)
            .select("doc_id"),
            "doc_id",
            parts=max(4, CROSS_DOC_CAP // 32),
        )
        .select(
            F.col("doc_id").alias("id"),
            _png("doc_id").alias("image"),
            _wav("doc_id").alias("audio"),
            _y4m("doc_id").alias("video"),
        )
        .localCheckpoint(eager=False)  # one synth+encode pass, three readers
    )
    dup_sets = {
        "dup_image": phash_image_dups(
            mixed.select("id", "image"), "image", "id",
            max_hamming=PHASH_MAX_HAMMING,
        ),
        "dup_audio": audio_energy_dups(
            mixed.select("id", "audio"), "audio", "id",
            max_hamming=AUDIO_MAX_HAMMING, frame_len=AUDIO_FRAME,
        ),
        "dup_video": video_temporal_dups(
            mixed.select("id", "video"), "video", "id",
            max_hamming=VIDEO_MAX_HAMMING,
        ),
    }
    out = mixed.select("id")
    for flag, pairs in dup_sets.items():
        dups = pairs.select(F.col("id_b").alias("id")).distinct()
        out = out.join(
            F.broadcast(dups.withColumn("_d", F.lit(True))), "id", "left"
        ).select(
            *[c for c in out.columns],
            F.coalesce("_d", F.lit(False)).alias(flag),
        )
    return out.select(
        F.col("id").alias("doc_id"),
        "dup_image",
        "dup_audio",
        "dup_video",
        (
            ~(F.col("dup_image") | F.col("dup_audio") | F.col("dup_video"))
        ).alias("survivor"),
    )
