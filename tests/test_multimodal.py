"""Multimodal plumbing tests: schema, determinism, batch shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from qdrant_datafusion_spark.operators.multimodal import (
    attach_media,
    decode_image_features,
    media_stats,
    sample_video_frames,
)


def _media_df(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    with_bytes = docs.select(
        F.col("doc_id").alias("id"), F.encode("text", "UTF-8").alias("blob")
    )
    return attach_media(with_bytes, "blob", "image/fake")


class TestMultimodal:
    def test_attach_and_stats(self, spark, sf_dir):
        df = _media_df(spark, sf_dir)
        assert df.schema["media"].dataType.simpleString().startswith("struct<bytes:binary")
        stats = media_stats(df).collect()[0]
        assert stats.n == 20 and stats.total_bytes > 0 and stats.n_mime_types == 1

    def test_decode_features_deterministic(self, spark, sf_dir):
        df = _media_df(spark, sf_dir)
        a = {r.id: r.features for r in decode_image_features(df, dim=16).collect()}
        b = {r.id: r.features for r in decode_image_features(df, dim=16).collect()}
        assert a == b  # stub decode is content-deterministic
        assert all(len(v) == 16 for v in a.values())

    def test_video_frame_sampling(self, spark, sf_dir):
        df = _media_df(spark, sf_dir)
        frames = sample_video_frames(df, n_frames=3).collect()
        assert len(frames) == 60  # 20 docs x 3 frames
        per_doc = {}
        for r in frames:
            per_doc.setdefault(r.id, []).append(r.frame_idx)
        assert all(sorted(v) == [0, 1, 2] for v in per_doc.values())


class TestResize:
    def test_resize_rewrites_metadata_and_composes(self, spark, sf_dir):
        from qdrant_datafusion_spark.operators.multimodal import resize_images

        df = _media_df(spark, sf_dir)
        resized = resize_images(df, width=64, height=32)
        rows = resized.collect()
        assert len(rows) == 20
        assert all(r.media.width == 64 and r.media.height == 32 for r in rows)
        assert all(len(r.media.bytes) == 64 * 32 // 64 for r in rows)
        # deterministic: same input -> same stub bytes
        again = {r.id: bytes(r.media.bytes) for r in resize_images(df, width=64, height=32).collect()}
        assert all(bytes(r.media.bytes) == again[r.id] for r in rows)
        # composes with downstream media operators (same struct schema)
        stats = media_stats(resized).collect()[0]
        assert stats.n == 20


class TestRealImageKernels:
    """The image kernels are REAL for PNG bytes: pure-stdlib decode
    (inflate + unfilter), nearest-neighbor resize, PNG re-encode."""

    def _png_2x2(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import encode_png

        px = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
            dtype=np.uint8,
        )
        return px, encode_png(px)

    def test_png_roundtrip_2x2(self):
        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import decode_png

        px, data = self._png_2x2()
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        out = decode_png(data)
        assert out.shape == (2, 2, 3)
        assert np.array_equal(out, px)

    def test_unfilter_all_types(self):
        """Hand-build a PNG whose rows use filters Sub/Up/Average/Paeth and
        check the decoder reverses each (encoder only emits filter 0, so
        this exercises the spec paths an external encoder would use)."""
        import struct
        import zlib

        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import (
            PNG_SIGNATURE,
            _chunk,
            decode_png,
        )

        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
        h, w, bpp = 5, 4, 3
        rows = []
        prev = np.zeros(w * bpp, dtype=np.int16)
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            cur = px[y].reshape(-1).astype(np.int16)
            if ftype == 0:
                filt = cur
            elif ftype == 1:  # Sub
                left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
                filt = (cur - left) & 0xFF
            elif ftype == 2:  # Up
                filt = (cur - prev) & 0xFF
            elif ftype == 3:  # Average
                left = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
                filt = (cur - ((left + prev) >> 1)) & 0xFF
            else:  # Paeth
                filt = np.empty_like(cur)
                for i in range(len(cur)):
                    a = int(cur[i - bpp]) if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    filt[i] = (cur[i] - pred) & 0xFF
            rows.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            PNG_SIGNATURE
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(data), px)

    def test_resize_real_png_through_operator(self, spark):
        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import (
            decode_png,
            resize_nearest,
        )
        from qdrant_datafusion_spark.operators.multimodal import (
            attach_media,
            resize_images,
        )

        px, data = self._png_2x2()
        df = attach_media(
            spark.createDataFrame([(1, bytearray(data))], "id int, blob binary"),
            "blob",
            "image/png",
        )
        row = resize_images(df, width=4, height=4).collect()[0]
        assert row.media.mime == "image/png"
        assert row.media.width == 4 and row.media.height == 4
        out = decode_png(bytes(row.media.bytes))
        assert np.array_equal(out, resize_nearest(px, 4, 4))

    def test_decode_features_real_pixels(self, spark):
        """A real PNG gets pixel-derived features (top-left red pixel →
        known luma), not hash noise."""
        from qdrant_datafusion_spark.operators.imaging import image_features
        from qdrant_datafusion_spark.operators.multimodal import (
            attach_media,
            decode_image_features,
        )

        px, data = self._png_2x2()
        df = attach_media(
            spark.createDataFrame([(1, bytearray(data))], "id int, blob binary"),
            "blob",
            "image/png",
        )
        feats = decode_image_features(df, dim=4).collect()[0].features
        expected = [float(x) for x in image_features(px, 4)]
        assert feats == pytest.approx(expected)
        assert feats[0] == pytest.approx(0.299, abs=1e-3)  # red luma

    def test_wav_meta_through_operator(self, spark):
        import io
        import wave

        from qdrant_datafusion_spark.operators.multimodal import (
            attach_media,
            decode_audio_meta,
        )

        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(2)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"\x00\x00" * 2 * 4000)  # 0.5 s stereo silence
        wav = buf.getvalue()
        df = attach_media(
            spark.createDataFrame(
                [(1, bytearray(wav)), (2, bytearray(b"not audio"))],
                "id int, blob binary",
            ),
            "blob",
            "audio/wav",
        )
        rows = {r.id: r for r in decode_audio_meta(df).collect()}
        assert rows[1].channels == 2
        assert rows[1].sample_rate == 8000
        assert rows[1].audio_ms == 500
        assert rows[1].n_bytes == len(wav)
        assert rows[2].channels is None and rows[2].sample_rate is None


class TestRealVideoKernels:
    """Y4M demux: header parse, frame index walk, luma extraction."""

    @staticmethod
    def _stream(n=10, w=6, h=4, fps=(25, 1)):
        import numpy as np

        from qdrant_datafusion_spark.operators.imaging import encode_y4m

        frames = [np.full((h, w), i * 10, dtype=np.uint8) for i in range(n)]
        return encode_y4m(frames, fps), frames

    def test_probe_parses_header_and_indexes_frames(self):
        from qdrant_datafusion_spark.operators import imaging

        data, frames = self._stream(n=7, w=6, h=4, fps=(30, 1))
        meta = imaging.y4m_probe(data)
        assert meta["width"] == 6 and meta["height"] == 4
        assert meta["fps_num"] == 30 and meta["n_frames"] == 7
        for i, f in enumerate(frames):
            assert (imaging.y4m_frame_luma(data, meta, i) == f).all()

    def test_probe_rejects_garbage_and_truncation(self):
        import numpy as np

        from qdrant_datafusion_spark.operators import imaging

        assert imaging.y4m_probe(b"not a video") is None
        data, _ = self._stream(n=3)
        # cut mid-frame: the complete prefix is still indexed
        meta = imaging.y4m_probe(data[:-5])
        assert meta is not None and meta["n_frames"] == 2
        # 4:2:0 stream: frame size includes chroma
        w, h = 4, 2
        head = f"YUV4MPEG2 W{w} H{h} F25:1 C420\n".encode()
        frame = b"FRAME\n" + bytes(range(w * h)) + bytes(w * h // 2)
        meta = imaging.y4m_probe(head + frame)
        assert meta["n_frames"] == 1 and meta["frame_size"] == w * h * 3 // 2
        luma = imaging.y4m_frame_luma(head + frame, meta, 0)
        assert luma.tobytes() == bytes(range(w * h))

    def test_real_sampling_through_operator(self, spark):
        import hashlib

        data, frames = self._stream(n=8, w=6, h=4, fps=(25, 1))
        df = attach_media(
            spark.createDataFrame(
                [(1, bytearray(data)), (2, bytearray(b"compressed-container"))],
                "id int, blob binary",
            ),
            "blob",
            "video/x-yuv4mpeg",
        )
        rows = sample_video_frames(df, n_frames=4).collect()
        real = sorted((r for r in rows if r.id == 1), key=lambda r: r.frame_idx)
        # 8 frames sampled 4x evenly -> true video frame indices 0,2,4,6
        assert [r.frame_idx for r in real] == [0, 2, 4, 6]
        # offsets from the header frame rate: 40ms per frame at 25fps
        assert [r.offset_ms for r in real] == [0, 80, 160, 240]
        # hashes are of the real decoded luma planes
        for r in real:
            expect = hashlib.md5(frames[r.frame_idx].tobytes()).hexdigest()
            assert r.frame_hash == expect
        # non-Y4M bytes keep the stub shape (slot indices 0..3)
        stub = sorted((r for r in rows if r.id == 2), key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in stub] == [0, 1, 2, 3]


class TestCrossModalDups:
    """entry_queries.multimodal_cross_dups — the three fingerprint
    families composed over one mixed media table."""

    def test_flags_compose_and_match_per_modality_pairs(self, spark, sf_dir):
        from qdrant_datafusion_spark.entry_queries.multimodal import (
            AUDIO_FRAME,
            AUDIO_MAX_HAMMING,
            CROSS_DOC_CAP,
            multimodal_cross_dups,
        )

        rows = {r["doc_id"]: r for r in multimodal_cross_dups(
            spark, sf_dir
        ).collect()}
        assert len(rows) == CROSS_DOC_CAP
        # survivor is exactly the negation of any modality flag
        for r in rows.values():
            assert r["survivor"] == (
                not (r["dup_image"] or r["dup_audio"] or r["dup_video"])
            )
        # audio flags must equal the standalone audio pair set's id_b
        # members restricted to the shared cap (independent recompute)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from qdrant_datafusion_spark.entry_queries.multimodal import (
            _audio_planted_samples,
        )
        from qdrant_datafusion_spark.operators.audio import (
            audio_energy_dups,
            encode_wav,
        )

        _wav = pandas_udf(
            lambda ids: pd.Series(
                [encode_wav(_audio_planted_samples(int(i))) for i in ids]
            ),
            "binary",
        )
        clips = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("doc_id") < CROSS_DOC_CAP)
            .select(F.col("doc_id").alias("id"), _wav("doc_id").alias("m"))
        )
        audio_dups = {
            r["id_b"]
            for r in audio_energy_dups(
                clips, "m", "id",
                max_hamming=AUDIO_MAX_HAMMING, frame_len=AUDIO_FRAME,
            ).collect()
        }
        assert {i for i, r in rows.items() if r["dup_audio"]} == audio_dups
