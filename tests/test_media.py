"""Media operator tests (SURVEY §5 tier 1/4): structural assertions
(dims/duration/chunk count/stream sets) over deterministic fake-container
media, mirroring the reference's synthetic factories
(test/factories/factories.go:162-354)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_worker_spark.operators import media as M


# --- factories (ffmpeg color=blue / sine=1000Hz equivalents) ----------------


def make_image(w=16, h=12, seed=7) -> bytes:
    px = bytes((x * 31 + y * 17 + seed) % 256 for y in range(h) for x in range(w))
    return M.fimg_encode(w, h, px)


def make_audio(seconds=3.0, rate=100) -> bytes:
    n = int(seconds * rate)
    return M.faud_encode(rate, bytes(i % 251 for i in range(n)))


def make_video(w=16, h=12, fps=10, seconds=2.0, with_audio=True) -> bytes:
    img = make_image(w, h)
    v = M.video_from_image_bytes(img, 0.0, seconds, fps)
    if with_audio:
        v = M.video_add_audio_bytes(v, make_audio(seconds), True)
    return v


def media_df(spark, payloads: list[bytes]):
    return spark.createDataFrame(
        [(i, 0, p) for i, p in enumerate(payloads)],
        T.StructType(
            [
                T.StructField("input_index", T.LongType(), False),
                T.StructField("output_index", T.LongType(), False),
                T.StructField("payload_bin", T.BinaryType(), True),
            ]
        ),
    )


# --- byte-level kernels -----------------------------------------------------


class TestKernels:
    def test_resize_exact(self):
        out = M.image_resize_bytes(make_image(16, 12), 8, 6)
        w, h, px = M.fimg_decode(out)
        assert (w, h) == (8, 6) and len(px) == 48

    def test_resize_keep_aspect(self):
        # 16x12, width=8 → height round(12*8/16)=6 (imaging.Resize 0-dim rule)
        out = M.image_resize_bytes(make_image(16, 12), 8, 999, keep_aspect_ratio=True)
        assert M.fimg_decode(out)[:2] == (8, 6)
        out = M.image_resize_bytes(make_image(16, 12), 0, 6)
        assert M.fimg_decode(out)[:2] == (8, 6)

    def test_resize_deterministic_nn(self):
        a = M.image_resize_bytes(make_image(), 4, 4)
        b = M.image_resize_bytes(make_image(), 4, 4)
        assert a == b
        # upscale of a constant image stays constant
        const = M.fimg_encode(2, 2, bytes([9] * 4))
        w, h, px = M.fimg_decode(M.image_resize_bytes(const, 5, 5))
        assert set(px) == {9}

    def test_blur_smooths(self):
        sharp = M.fimg_encode(5, 1, bytes([0, 0, 255, 0, 0]))
        _, _, px = M.fimg_decode(M.image_blur_bytes(sharp, 1.0))
        assert max(px) < 255 and px[1] > 0  # energy spread, deterministic
        assert M.image_blur_bytes(sharp, 1.0) == M.image_blur_bytes(sharp, 1.0)

    def test_add_text_anchors_and_dims(self):
        img = make_image()
        for anchor in M._ANCHORS:
            out = M.image_add_text_bytes(img, "hello", 12, anchor)
            assert M.fimg_decode(out)[:2] == (16, 12)
        with pytest.raises(ValueError):
            M.image_add_text_bytes(img, "x", 12, "upside-down")
        # stamp is invertible XOR → applying twice restores the image
        twice = M.image_add_text_bytes(
            M.image_add_text_bytes(img, "abc"), "abc"
        )
        assert twice == img

    def test_video_from_image_duration(self):
        v = M.video_from_image_bytes(make_image(), 2.0, 5.0, fps=10)
        w, h, fps, n = M.fvid_meta(v)
        assert (w, h, fps, n) == (16, 12, 10, 30)  # (end-start)*fps

    def test_join_videos_concat_and_shortcut(self):
        a, b = make_video(seconds=1.0), make_video(seconds=2.0)
        j = M.join_videos_bytes([a, b])
        assert M.fvid_meta(j)[3] == M.fvid_meta(a)[3] + M.fvid_meta(b)[3]
        # audio streams concatenate too
        rate, samples = M.faud_decode(M.fvid_sections(j, b"AUDI")[0])
        assert len(samples) == 300  # 1s + 2s at 100Hz
        assert M.join_videos_bytes([a]) is a  # 1-element shortcut (:76-81)

    def test_join_videos_geometry_guard(self):
        a, b = make_video(w=16), make_video(w=8)
        with pytest.raises(ValueError):
            M.join_videos_bytes([a, b])
        assert M.fvid_meta(M.join_videos_bytes([a, b], re_encode=True))[0] == 16

    def test_video_add_audio_replace_vs_append(self):
        v = make_video(with_audio=True)
        extra = make_audio(1.0)
        replaced = M.video_add_audio_bytes(v, extra, replace_original_audio=True)
        appended = M.video_add_audio_bytes(v, extra, replace_original_audio=False)
        assert len(M.fvid_sections(replaced, b"AUDI")) == 1  # -map 0:v drops orig
        assert len(M.fvid_sections(appended, b"AUDI")) == 2  # -map 0 keeps it

    def test_video_add_subtitles_modes(self):
        v = make_video()
        subs = b"Dialogue: 0,0:00:00.00,0:00:01.00,Default,,0,0,0,,hi"
        muxed = M.video_add_subtitles_bytes(v, subs, "mux")
        assert M.fvid_sections(muxed, b"SUBS") == [subs]
        assert M.fvid_sections(muxed, b"FRMS") == M.fvid_sections(v, b"FRMS")
        burned = M.video_add_subtitles_bytes(v, subs, "burn")
        assert not M.fvid_sections(burned, b"SUBS")
        assert M.fvid_sections(burned, b"FRMS") != M.fvid_sections(v, b"FRMS")
        with pytest.raises(ValueError):
            M.video_add_subtitles_bytes(v, subs, "sideways")

    def test_audio_from_video_slice(self):
        v = make_video(seconds=3.0)
        full = M.audio_from_video_bytes(v)
        assert M.faud_duration(full) == pytest.approx(3.0)
        # reference semantics (block_audio_from_video.go:111-116): end is
        # a DURATION (-t end), so [1.0, 1.0+2.5] clipped to the 3s stream
        part = M.audio_from_video_bytes(v, start=1.0, end=2.5)
        assert M.faud_duration(part) == pytest.approx(2.0)
        # -1 defaults (config.yaml) mean unset on the native path too
        assert M.faud_duration(
            M.audio_from_video_bytes(v, start=-1.0, end=-1.0)
        ) == pytest.approx(3.0)
        with pytest.raises(ValueError):
            M.audio_from_video_bytes(make_video(with_audio=False))

    def test_audio_chunk_split(self):
        chunks = M.audio_chunk_bytes(make_audio(5.0), 2.0)
        assert [M.faud_duration(c) for c in chunks] == [2.0, 2.0, 1.0]
        # non-positive duration falls back to the 10m default (go :98-99)
        assert len(M.audio_chunk_bytes(make_audio(5.0), 0)) == 1

    def test_audio_convert_resample(self):
        out = M.audio_convert_bytes(make_audio(2.0, rate=100), sample_rate=50)
        rate, samples = M.faud_decode(out)
        assert rate == 50 and len(samples) == 100  # duration preserved

    def test_real_media_stub(self):
        # real PNGs now run natively (png_codec); non-PNG real images still
        # need Pillow and keep the honest stub
        jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 20
        if not M._HAVE_PIL:
            with pytest.raises(NotImplementedError):
                M._dispatch_image(jpeg, M.image_resize_bytes, 4, 4)


# --- Spark plumbing ---------------------------------------------------------


class TestSparkOps:
    def test_image_pipeline(self, spark):
        df = media_df(spark, [make_image(32, 24, s) for s in range(5)])
        out = M.image_add_text(
            M.image_blur(M.image_resize(df, 16, 0), 1.5).withColumn(
                "text_col", F.lit("hi")
            ),
            "text_col",
        )
        rows = out.orderBy("input_index").collect()
        assert len(rows) == 5
        for r in rows:
            assert M.fimg_decode(bytes(r.payload_bin))[:2] == (16, 12)
            assert r.mime == "image/png"

    def test_audio_chunk_1_to_n(self, spark):
        df = media_df(spark, [make_audio(5.0), make_audio(1.0)])
        out = M.audio_chunk(df, duration=2.0).orderBy("input_index", "output_index")
        rows = out.collect()
        assert [(r.input_index, r.output_index) for r in rows] == [
            (0, 0), (0, 1), (0, 2), (1, 0),
        ]
        assert M.faud_duration(bytes(rows[2].payload_bin)) == pytest.approx(1.0)
        assert all(r.mime == "audio/mpeg" for r in rows)

    def test_join_videos_ordered_gather(self, spark):
        vids = [make_video(seconds=s) for s in (1.0, 2.0, 3.0)]
        # insert out of order; the op must sort by input_index
        df = media_df(spark, [vids[2], vids[0], vids[1]])
        df = df.withColumn(
            "input_index",
            F.when(F.col("input_index") == 0, 2)
            .when(F.col("input_index") == 1, 0)
            .otherwise(1)
            .cast("long"),
        )
        out = M.join_videos(df).collect()
        assert len(out) == 1
        joined = bytes(out[0].payload_bin)
        assert M.fvid_meta(joined)[3] == 60  # (1+2+3)s * 10fps
        # order check: audio is 1s||2s||3s concatenation
        rate, samples = M.faud_decode(M.fvid_sections(joined, b"AUDI")[0])
        ref = b"".join(
            M.faud_decode(M.fvid_sections(v, b"AUDI")[0])[1] for v in vids
        )
        assert samples == ref

    def test_join_videos_grouped(self, spark):
        df = media_df(spark, [make_video(seconds=1.0) for _ in range(4)])
        df = df.withColumn("doc_id", (F.col("input_index") % 2).cast("long"))
        out = M.join_videos(df, group_cols=["doc_id"]).collect()
        assert sorted(r.doc_id for r in out) == [0, 1]
        assert all(M.fvid_meta(bytes(r.payload_bin))[3] == 20 for r in out)

    def test_video_mux_pipeline(self, spark):
        img_df = media_df(spark, [make_image()])
        vid = M.video_from_image(img_df, 0.0, 2.0, fps=10)
        vid = vid.withColumn("audio", F.lit(make_audio(2.0)))
        out = M.video_add_audio(vid, "payload_bin", "audio", True)
        out = out.withColumn("subs", F.lit(b"Dialogue: x"))
        out = M.video_add_subtitles(out, "subs", "mux")
        final = M.audio_from_video(out, start=0.5, end=1.5)
        rows = final.collect()
        assert len(rows) == 1
        # -t duration semantics: [0.5, 0.5+1.5] clipped to the 2s stream
        assert M.faud_duration(bytes(rows[0].payload_bin)) == pytest.approx(1.5)
        assert rows[0].mime == "audio/mpeg"


class TestRowMapKernel:
    """The ``map_rows`` kernel every map-style block operator runs through."""

    def test_one_to_n_row_with_no_output_emits_nothing(self, spark):
        # one batch: a zero-sample FAUD between two real ones yields no chunk
        df = media_df(
            spark, [make_audio(5.0), M.faud_encode(100, b""), make_audio(1.0)]
        ).coalesce(1)
        rows = (
            M.audio_chunk(df, duration=2.0)
            .orderBy("input_index", "output_index")
            .collect()
        )
        assert [(r.input_index, r.output_index) for r in rows] == [
            (0, 0), (0, 1), (0, 2), (2, 0),
        ]
        assert [M.faud_duration(bytes(r.payload_bin)) for r in rows] == [
            2.0, 2.0, 1.0, 1.0,
        ]

    def test_nullable_long_passes_through_a_unary_operator(self, spark):
        schema = T.StructType(
            [
                T.StructField("input_index", T.LongType(), False),
                T.StructField("n", T.LongType(), True),
                T.StructField("payload_bin", T.BinaryType(), True),
            ]
        )
        df = spark.createDataFrame(
            [(i, None if i % 2 else 10 * i, make_image(8, 6, i)) for i in range(4)],
            schema,
        ).coalesce(1)
        out = M.image_resize(df, 4, 0)
        assert out.schema.simpleString() == (
            "struct<input_index:bigint,n:bigint,payload_bin:binary,mime:string>"
        )
        assert out.schema["n"].nullable
        rows = out.orderBy("input_index").collect()
        assert [(r.input_index, r.n) for r in rows] == [
            (0, 0), (1, None), (2, 20), (3, None),
        ]
        assert all(M.fimg_decode(bytes(r.payload_bin))[:2] == (4, 3) for r in rows)

    def test_block_operators_cross_into_python_once(self):
        # the media and external block operators share one mapInPandas
        # call (the kernel, in external.py); join_videos' ordered gather is
        # the only other Python boundary
        import ast
        from pathlib import Path

        from data_pipelines_worker_spark.operators import external as X

        calls = {}
        for mod in (M, X):
            tree = ast.parse(Path(mod.__file__).read_text())
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr.endswith("InPandas"):
                    calls[node.attr] = calls.get(node.attr, 0) + 1
        assert calls == {"mapInPandas": 1, "applyInPandas": 1}


class TestFrameSampleAndStats:
    def test_frame_sample_bytes_every_n(self):
        img = M.fimg_encode(4, 4, bytes(range(16)))
        vid = M.video_from_image_bytes(img, 0.0, 1.0, fps=10)  # 10 frames
        frames = M.video_frame_sample_bytes(vid, every=3)
        assert len(frames) == 4  # ceil(10/3)
        base = sum(range(16)) % 256
        for k, fr in enumerate(frames):
            w, h, px = M.fimg_decode(fr)
            assert (w, h) == (4, 4)
            assert px == bytes([(base + 3 * k) % 256]) * 16

    def test_frame_sample_spark_1_to_n(self, spark):
        img = M.fimg_encode(2, 2, bytes(4))
        vids = [
            (i, M.video_from_image_bytes(img, 0.0, float(i + 1), fps=2))
            for i in range(3)
        ]
        df = spark.createDataFrame(vids, "input_index long, payload_bin binary")
        rows = (
            M.video_frame_sample(df, every=2)
            .orderBy("input_index", "output_index")
            .collect()
        )
        # video i has 2*(i+1) frames → 1, 2, 3 samples at every=2
        counts = {}
        for r in rows:
            counts[r.input_index] = counts.get(r.input_index, 0) + 1
            assert r.mime == "image/png"
        assert counts == {0: 1, 1: 2, 2: 3}

    def test_image_stats_fimg_and_png(self, spark):
        from data_pipelines_worker_spark.operators import png_codec as P
        import numpy as np

        fimg = M.fimg_encode(3, 2, bytes([10, 20, 30, 40, 50, 60]))
        png = P.png_encode(np.full((4, 5, 3), 7, dtype=np.uint8))
        df = spark.createDataFrame(
            [(0, fimg), (1, png)], "input_index long, payload_bin binary"
        )
        rows = M.image_stats(df).orderBy("input_index").collect()
        assert (rows[0].img_w, rows[0].img_h, rows[0].px_sum) == (3, 2, 210)
        assert rows[0].px_mean == pytest.approx(35.0)
        assert (rows[1].img_w, rows[1].img_h, rows[1].px_sum) == (5, 4, 140)


class TestRealWav:
    def test_sine_roundtrip(self):
        from data_pipelines_worker_spark.operators import wav_codec as W

        wav = W.sine_wav(1000.0, 2.0)  # factories.go:215-263 fixture shape
        rate, frames = W.wav_decode(wav)
        assert rate == 44100 and frames.shape == (88200, 2)
        assert W.wav_duration(wav) == pytest.approx(2.0)
        assert W.wav_decode(W.wav_encode(rate, frames))[1].tolist() == frames.tolist()

    def test_chunk_real_wav(self):
        from data_pipelines_worker_spark.operators import wav_codec as W

        wav = W.sine_wav(1000.0, 2.5)
        chunks = M.audio_chunk_bytes(wav, 1.0)
        assert len(chunks) == 3
        durations = [W.wav_duration(c) for c in chunks]
        assert durations[:2] == [1.0, 1.0]
        assert durations[2] == pytest.approx(0.5)
        # chunks reassemble to the original stream
        import numpy as np

        joined = np.concatenate([W.wav_decode(c)[1] for c in chunks])
        assert joined.tolist() == W.wav_decode(wav)[1].tolist()

    def test_convert_real_wav_mono_resample(self):
        from data_pipelines_worker_spark.operators import wav_codec as W

        wav = W.sine_wav(1000.0, 1.0, channels=2)
        out = M.audio_convert_bytes(wav, format="wav", mono=True, sample_rate=22050)
        rate, frames = W.wav_decode(out)
        assert rate == 22050 and frames.shape == (22050, 1)
        assert W.wav_duration(out) == pytest.approx(1.0)

    def test_convert_wav_to_mp3_needs_ffmpeg(self):
        from data_pipelines_worker_spark.operators import wav_codec as W

        if M._FFMPEG:
            pytest.skip("ffmpeg present")
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            M.audio_convert_bytes(W.sine_wav(seconds=0.1), format="mp3")

    def test_chunk_real_wav_through_spark(self, spark):
        from data_pipelines_worker_spark.operators import wav_codec as W

        df = media_df(spark, [W.sine_wav(1000.0, 1.2)])
        rows = (
            M.audio_chunk(df, duration=0.5)
            .orderBy("output_index")
            .collect()
        )
        assert [r.mime for r in rows] == ["audio/wav"] * 3
        assert W.wav_duration(bytes(rows[-1].payload_bin)) == pytest.approx(0.2)


class TestAudioEnergySegmentation:
    def test_segments_equal_nonempty_words(self, spark, tmp_path):
        """The 16-sample inter-word gap (>= 2 frames) guarantees one
        fully-silent frame between words, so segments == nonempty words;
        a planted doc set pins the closed form."""
        import duckdb

        from data_pipelines_worker_spark.queries import load_all

        docs = spark.createDataFrame(
            [
                (1, "hello world", "en", "s", 11),
                (2, "a  b", "en", "s", 4),          # empty word from '  '
                (3, "", "en", "s", 0),              # empty text: no row
                (4, "   ", "en", "s", 3),           # spaces only: no row
                (5, "supercalifragilistic", "en", "s", 20),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        sf = str(tmp_path)
        docs.write.parquet(f"{sf}/documents.parquet")
        fn, oracle = load_all()["media_audio_energy"]
        got = {r.doc_id: r for r in fn(spark, sf).collect()}
        assert set(got) == {1, 2, 5}
        assert got[1].n_segments == 2
        assert got[2].n_segments == 2
        assert got[5].n_segments == 1
        # 20 chars starting at sample 0 → frames 0..2 (ceil(20/8))
        assert got[5].active_frames == 3
        # oracle agrees on the planted set too
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{sf}/documents.parquet/*.parquet'"
        )
        ora = {r[0]: r for r in con.execute(oracle).fetchall()}
        for k, r in got.items():
            assert ora[k] == (
                k,
                r.n_segments,
                r.active_frames,
                r.max_segment_frames,
                r.total_energy,
            )

    def test_payload_is_real_riff_wav(self, spark, sf_dir):
        """The synth stage emits genuine RIFF/PCM bytes (decodable by the
        stdlib wave module), not a fake container."""
        from data_pipelines_worker_spark.operators import wav_codec as W
        from data_pipelines_worker_spark.queries.media_queries import (
            _VAD_RATE,
        )

        # rebuild the synth stage over one real doc
        from data_pipelines_worker_spark.session import load_table

        import numpy as np

        doc = load_table(spark, sf_dir, "documents").select("text").first()
        samples = []
        for word in doc.text.split(" "):
            samples.extend(256 * (1 + ord(c) % 96) for c in word)
            samples.extend([0] * 16)
        payload = W.wav_encode(_VAD_RATE, np.asarray(samples, dtype=np.int16).reshape(-1, 1))
        assert W.is_wav(payload)
        rate, frames = W.wav_decode(payload)
        assert rate == _VAD_RATE and len(frames) == len(samples)


class TestSourceColumns:
    """The media queries' source payloads are column expressions; the
    Python encoders are their reference, byte for byte."""

    #: empty, ASCII, non-ASCII, non-BMP and a 5000-token text; ids
    #: include negatives (pixel ramps and phash variants are floor-mod)
    DOCS = [
        (0, ""),
        (1, "hello world"),
        (257, "naïve café — déjà vu"),
        (-1, "emoji \U0001F600 and \U0001D518 outside the BMP"),
        (-300, " ".join(f"tok{i}" for i in range(5000))),
    ]

    @staticmethod
    def _dims(t: str) -> tuple[int, int]:
        return 8 + len(t) % 24, 8 + (len(t) // 7) % 24

    @staticmethod
    def _phash_reference(doc_id: int, t: str) -> bytes:
        import hashlib

        from data_pipelines_worker_spark.queries import media_queries as Q

        c = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % Q._PH_CLASSES
        v = doc_id % Q._PH_VARIANTS
        px = bytearray(64)
        for k in range(64):
            p = ((((c * 64 + k + 1) * Q._PH_KNUTH) % 2**32) // 8192) % 251
            if k == (v * 17) % 64:
                p = (p + v * 40) % 251
            px[k] = p
        return M.fimg_encode(8, 8, bytes(px))

    def test_columns_equal_python_encoders(self, spark):
        from data_pipelines_worker_spark.queries import media_queries as Q

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        n = F.length("text")
        rows = df.select(
            "doc_id",
            "text",
            Q._faud_zeros(n).alias("faud"),
            Q._blank_image(n).alias("blank"),
            Q._ramp_image(n, F.col("doc_id")).alias("ramp"),
            Q._phash_image(F.col("text"), F.col("doc_id")).alias("phash"),
            Q._u32_be(F.lit(2**32 - 1)).alias("u32_max"),
        ).collect()
        assert len(rows) == len(self.DOCS)
        for r in rows:
            d, t = r.doc_id, r.text
            w, h = self._dims(t)
            assert bytes(r.faud) == M.faud_encode(Q._RATE, bytes(len(t)))
            assert bytes(r.blank) == M.fimg_encode(w, h, bytes(w * h))
            ramp = bytes((d + i) % 256 for i in range(w * h))
            assert bytes(r.ramp) == M.fimg_encode(w, h, ramp)
            assert bytes(r.phash) == self._phash_reference(d, t)
            assert bytes(r.u32_max) == b"\xff\xff\xff\xff"

    def test_phash_image_of_null_text_is_the_empty_text_image(self, spark):
        from data_pipelines_worker_spark.queries import media_queries as Q

        df = spark.createDataFrame([(5, None)], "doc_id long, text string")
        row = df.select(Q._phash_image(F.col("text"), F.col("doc_id"))).first()
        assert bytes(row[0]) == self._phash_reference(5, "")


#: Python stages (distinct MapInPandas nodes) per media query plan: the
#: codec stages only, the source is a projection
_MEDIA_PYTHON_STAGES = {
    "media_audio_chunk": 1,  # audio_chunk
    "media_image_resize": 1,  # image_resize
    "media_video_pipeline": 4,  # from_image, add_audio, add_subtitles, from_video
    "media_frame_sample": 2,  # video_from_image, frame_sample
    "media_image_stats": 1,  # image_stats
    "media_image_phash": 1,  # image_phash
}


@pytest.mark.parametrize("name", sorted(_MEDIA_PYTHON_STAGES))
def test_media_query_sources_are_projections(spark, sf_dir, name):
    import re

    from data_pipelines_worker_spark.queries import load_all

    fn, _oracle = load_all()[name]
    df = fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    spark.catalog.clearCache()
    nodes = set(re.findall(r"^\((\d+)\) MapInPandas", plan, re.M))
    assert len(nodes) == _MEDIA_PYTHON_STAGES[name]
