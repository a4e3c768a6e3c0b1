"""Correctness queries for the media operator family (SURVEY §2.1 #12-21).

Media payloads are not SQL-expressible, but every structural property of the
fake-container pipeline *is* closed-form in ``length(text)``: source media is
built deterministically from each document, and the outputs expose decoded
header fields (dims / frame counts / chunk durations) that DuckDB predicts
exactly. This makes the 1→N chunk path, the resize math, and the whole
image→video→mux→extract chain value-checked by the oracle, not just
rows-counted.

The source media are projections: each fake-container payload is one
column expression (magic bytes, big-endian ``u32`` header fields via
``hex``/``lpad``/``unhex``, pixel or sample bytes), and header decoding
happens JVM-side too (``substring``+``hex``+``conv``). Only the codec
stages themselves are Arrow-batched ``mapInPandas``; ``M.fimg_encode`` /
``M.faud_encode`` stay the reference encoders the column builders are
tested against.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import media as M
from ..session import load_table
from . import register

_RATE = 100  # fake-audio sample rate (Hz): 1 char = 1 sample = 10 ms


def _be_u32(payload: Column, pos: int) -> Column:
    """Big-endian u32 at 1-indexed byte offset ``pos`` of a binary column,
    decoded JVM-side."""
    return F.conv(F.hex(F.substring(payload, pos, 4)), 16, 10).cast("long")


def _u32_be(n: Column) -> Column:
    """``struct.pack(">I", n)`` as a binary column: the encoder of
    ``_be_u32``."""
    return F.unhex(F.lpad(F.hex(n.cast("long")), 8, "0"))


def _media_blob(magic: bytes, a: Column, b: Column, body: Column) -> Column:
    """``magic | >II (a, b) | body``: a FIMG payload (w, h, pixels) or a
    FAUD one (sample rate, sample count, samples), as ``M.fimg_encode`` /
    ``M.faud_encode`` write it."""
    return F.concat(F.lit(magic), _u32_be(a), _u32_be(b), body)


def _zeros(n: Column) -> Column:
    """``bytes(n)``: ``n`` zero bytes."""
    return F.unhex(F.repeat(F.lit("00"), n))


def _byte_array(values: Column) -> Column:
    """``bytes(values)`` for an array of ints in 0..255."""
    return F.unhex(
        F.array_join(F.transform(values, lambda x: F.lpad(F.hex(x), 2, "0")), "")
    )


def _faud_zeros(n: Column) -> Column:
    """FAUD payload of ``n`` zero samples at ``_RATE``."""
    return _media_blob(M.FAUD_MAGIC, F.lit(_RATE), n, _zeros(n))


def _image_dims(n: Column) -> tuple[Column, Column]:
    """Source image (w, h) of a document with ``n = length(text)``."""
    return 8 + n % 24, 8 + F.floor(n / 7) % 24


def _blank_image(n: Column) -> Column:
    """FIMG of ``_image_dims(n)``, every pixel 0."""
    w, h = _image_dims(n)
    return _media_blob(M.FIMG_MAGIC, w, h, _zeros(w * h))


def _ramp_image(n: Column, doc_id: Column) -> Column:
    """FIMG of ``_image_dims(n)`` whose pixel i is ``(doc_id + i) % 256``
    (pmod: Python's ``%`` is floor-mod)."""
    w, h = _image_dims(n)
    px = F.transform(
        F.sequence(F.lit(0), w * h - 1), lambda i: F.pmod(doc_id + i, F.lit(256))
    )
    return _media_blob(M.FIMG_MAGIC, w, h, _byte_array(px))


#: the 8x8 source image of the video queries (pixels 0..63)
_VIDEO_IMAGE = M.fimg_encode(8, 8, bytes(range(64)))


def _video_seconds(n: Column) -> Column:
    """Per-doc video length in seconds: ``length(text) % 5 + 1``."""
    return (n % 5 + 1).cast("double")


def _docs_with_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → FAUD payload with ``length(text)`` samples at 100 Hz."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _faud_zeros(F.length("text")).alias("payload_bin"))


@register(
    "media_audio_chunk",
    f"""
    SELECT doc_id,
           CAST(i AS BIGINT) AS output_index,
           LEAST(250, n - 250 * i) / {_RATE}.0 AS chunk_seconds
    FROM (
        SELECT doc_id, length(text) AS n,
               unnest(range(CAST(CEIL(length(text) / 250.0) AS BIGINT))) AS i
        FROM documents
    )
    """,
)
def q_media_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio_chunk 1→N (block_audio_chunk.go:118-125): fixed 2.5 s segments,
    ragged tail; chunk duration decoded from the FAUD header."""
    audio = _docs_with_audio(spark, sf_dir)
    chunks = M.audio_chunk(audio, duration=2.5)
    return chunks.select(
        "doc_id",
        "output_index",
        (_be_u32(F.col("payload_bin"), 9) / F.lit(float(_RATE))).alias(
            "chunk_seconds"
        ),
    )


@register(
    "media_image_resize",
    """
    SELECT doc_id,
           CAST(16 AS BIGINT) AS out_w,
           GREATEST(1, CAST(FLOOR(
               (8 + (length(text) // 7) % 24) * 16.0
               / (8 + length(text) % 24) + 0.5) AS BIGINT)) AS out_h,
           'image/png' AS mime
    FROM documents
    """,
)
def q_media_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_resize keep-aspect math (imaging.Resize 0-dim rule,
    block_image_resize.go:80): source dims derive from the text length,
    output dims decoded from the FIMG header."""
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", _blank_image(F.length("text")).alias("payload_bin")
    )
    resized = M.image_resize(src, width=16, height=0, keep_aspect_ratio=True)
    return resized.select(
        "doc_id",
        _be_u32(F.col("payload_bin"), 5).alias("out_w"),
        _be_u32(F.col("payload_bin"), 9).alias("out_h"),
        "mime",
    )


@register(
    "media_video_pipeline",
    """
    SELECT doc_id,
           CAST(10 * ((length(text) % 5) + 1) AS BIGINT) AS n_frames,
           CAST(((length(text) % 5) + 1) - 0.5 AS DOUBLE) AS audio_seconds
    FROM documents
    """,
)
def q_media_video_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full chain: image → video_from_image → video_add_audio →
    video_add_subtitles(mux) → audio_from_video. Frame count and extracted
    audio duration are closed-form in the per-doc video length
    (seconds = length(text) % 5 + 1)."""
    seconds = _video_seconds(F.length("text"))
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        seconds.alias("seconds"),
        F.lit(_VIDEO_IMAGE).alias("payload_bin"),
        _faud_zeros((seconds * _RATE).cast("long")).alias("audio"),
    )
    # per-row video length: fps*seconds frames (start=0, end=seconds per row)
    vid = M.video_from_image(src, 0.0, 0.0, fps=10, end_col="seconds")
    vid = M.video_add_audio(vid, "payload_bin", "audio", replace_original_audio=True)
    vid = vid.withColumn("subs", F.lit(b"Dialogue: 0,0:00:00.00,0:00:01.00,,demo"))
    vid = M.video_add_subtitles(vid, "subs", embedding_type="mux")
    # META is the first FVID section: n_frames at byte offset 29 (1-indexed)
    vid = vid.withColumn("n_frames", _be_u32(F.col("payload_bin"), 29))
    out = M.audio_from_video(vid, start=0.5, end=None)
    return out.select(
        "doc_id",
        "n_frames",
        (_be_u32(F.col("payload_bin"), 9) / F.lit(float(_RATE))).alias(
            "audio_seconds"
        ),
    )


@register(
    "media_frame_sample",
    """
    SELECT doc_id,
           CAST(k AS BIGINT) AS output_index,
           CAST((224 + 4 * k) % 256 AS BIGINT) AS frame_byte
    FROM (
        SELECT doc_id,
               unnest(range(CAST(CEIL(10 * ((length(text) % 5) + 1) / 4.0) AS BIGINT))) AS k
        FROM documents
    )
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video_frame_sample 1→N: every 4th frame of a 10 fps video whose
    frame bytes are the arithmetic sequence (base + i) % 256 seeded by the
    source image (video_from_image_bytes), base = sum(range(64)) % 256 =
    224 — so sampled frame k carries (224 + 4k) % 256, closed-form per
    doc. Frame byte decoded JVM-side from the FIMG pixel block."""
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _video_seconds(F.length("text")).alias("seconds"),
        F.lit(_VIDEO_IMAGE).alias("payload_bin"),
    )
    vid = M.video_from_image(src, 0.0, 0.0, fps=10, end_col="seconds")
    frames = M.video_frame_sample(vid, every=4)
    # FIMG pixel block starts at byte 13 (1-indexed); all pixels equal
    return frames.select(
        "doc_id",
        "output_index",
        F.conv(F.hex(F.substring(F.col("payload_bin"), 13, 1)), 16, 10)
        .cast("long")
        .alias("frame_byte"),
    )


@register(
    "media_image_stats",
    # pixel i of doc d is (d + i) % 256; the pixel sum over n = w*h pixels
    # is S(a+n) - S(a) with a = d % 256 and S(m) = (m//256)*32640
    # + r*(r-1)/2 for r = m % 256 (32640 = sum 0..255) — closed form, no
    # lateral range() needed.
    """
    SELECT doc_id, img_w, img_h,
           CAST(((a + n) // 256) * 32640
                + ((a + n) % 256) * ((a + n) % 256 - 1) // 2
                - a * (a - 1) // 2 AS BIGINT) AS px_sum
    FROM (
        SELECT doc_id,
               CAST(8 + length(text) % 24 AS BIGINT) AS img_w,
               CAST(8 + (length(text) // 7) % 24 AS BIGINT) AS img_h,
               doc_id % 256 AS a,
               (8 + length(text) % 24) * (8 + (length(text) // 7) % 24) AS n
        FROM documents
    )
    """,
)
def q_media_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_stats feature extraction: per-image (w, h, pixel sum) where
    pixel i of doc d is (d + i) % 256 — decode → reduce per payload,
    closed-form for the oracle. The px_mean double is left out of the gate
    (px_sum/(w*h) is the same information, integer-exact)."""
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", _ramp_image(F.length("text"), F.col("doc_id")).alias("payload_bin")
    )
    return M.image_stats(src).select("doc_id", "img_w", "img_h", "px_sum")


# --- audio energy segmentation (VAD shape; round 6, late) ---------------------

#: Real-WAV synthesis: one int16 sample per character (non-space c →
#: 256·(1 + ord(c) % 96), space → part of the inter-word pause), plus a
#: 16-sample silence gap after every word. Gap 16 ≥ 2 frames guarantees
#: at least one fully-aligned silent frame between words, so segments ≡
#: nonempty words — the closed form the oracle predicts from the text.
_VAD_RATE = 8000
_VAD_GAP = 16
_VAD_FRAME = 8

_VAD_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
wpos AS (
  SELECT doc_id, words,
         unnest(generate_series(1, len(words))) AS i
  FROM base
),
w AS (
  SELECT doc_id,
         CAST(len(words[i]) AS BIGINT) AS wl,
         CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
              ELSE CAST(list_sum(list_transform(words[1:i-1],
                                 x -> len(x) + {_VAD_GAP})) AS BIGINT)
         END AS prev
  FROM wpos
),
seg AS (
  SELECT doc_id,
         ((prev + wl - 1) // {_VAD_FRAME}) - (prev // {_VAD_FRAME}) + 1
           AS n_frames
  FROM w WHERE wl > 0
),
en AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(1, length(text)),
              i -> CASE WHEN text[i] = ' ' THEN CAST(0 AS BIGINT)
                        ELSE CAST(256 * (1 + ascii(text[i]) % 96) AS BIGINT)
                             * (256 * (1 + ascii(text[i]) % 96)) END))
              AS BIGINT) AS total_energy
  FROM documents WHERE length(text) > 0
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(s.n_frames) AS BIGINT) AS active_frames,
       CAST(max(s.n_frames) AS BIGINT) AS max_segment_frames,
       CAST(max(e.total_energy) AS BIGINT) AS total_energy
FROM seg s JOIN en e ON e.doc_id = s.doc_id
GROUP BY s.doc_id
"""


def _synth_samples(text: str):
    """One int16 sample per character (non-space c → 256·(1 + ord(c) %
    96)) plus a ``_VAD_GAP``-sample silence gap after every word — the
    SINGLE spelling of the deterministic text→PCM synth. The VAD/
    fingerprint oracles reproduce it in closed form and the unit tests
    import it, so any change here must change all three together."""
    import numpy as np

    samples: list[int] = []
    for word in text.split(" "):
        samples.extend(256 * (1 + ord(c) % 96) for c in word)
        samples.extend([0] * _VAD_GAP)
    return np.asarray(samples, dtype=np.int16)


def _vad_synth(docs: DataFrame) -> DataFrame:
    """(doc_id, payload_bin) — the deterministic text→PCM synth
    (``_synth_samples``) encoded as REAL RIFF/PCM bytes
    (``wav_codec.wav_encode``); used by ``media_audio_energy``."""
    from ..operators.wav_codec import wav_encode

    enc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("payload_bin", T.BinaryType(), True),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                wav_encode(_VAD_RATE, _synth_samples(t).reshape(-1, 1))
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload_bin": payloads}
            )

    # spread docs across cores first: one small parquet file = one input
    # split would serialize the codec stage on a single core (explicit
    # count — AQE coalesces unsized repartitions of tiny frames)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return docs.mapInPandas(synth, enc_schema)


@register("media_audio_energy", _VAD_ORACLE)
def q_media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based audio segmentation (the VAD shape): synthesize a REAL
    PCM WAV per document (``operators/wav_codec.py`` — RIFF bytes, not a
    fake container), decode it executor-side, compute per-frame integer
    energy (Σ sample² over 8-sample frames, vectorized numpy inside
    Arrow-batched ``mapInPandas``), then find voiced segments as islands
    of consecutive active frames with the gaps-and-islands window
    (``frame_idx − row_number``, the `activity_streaks` shape). Output
    per doc: segment count, active-frame total, longest segment, total
    energy — all integers; the oracle predicts every value from the text
    in closed form because the synth is deterministic (segments ≡
    nonempty words by the 2-frame-gap construction).

    Scale shape: both Python stages are Arrow-batched codecs (the only
    honest place for byte-level media work); the frame stream emits ONLY
    active frames (output-linear, ~|chars|/8 rows per doc), and the one
    exchange keys on doc_id for the island window. No driver-side
    bytes, no per-row Python UDFs in column form."""
    import numpy as np

    from ..operators.wav_codec import wav_decode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wav = _vad_synth(docs)

    frame_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("frame_idx", T.LongType(), False),
            T.StructField("energy", T.LongType(), False),
        ]
    )

    def frame_energy(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            fidx: list[int] = []
            energy: list[int] = []
            for did, payload in zip(pdf["doc_id"], pdf["payload_bin"]):
                _rate, fr = wav_decode(bytes(payload))
                s = fr[:, 0].astype(np.int64)
                pad = (-len(s)) % _VAD_FRAME
                if pad:
                    s = np.concatenate([s, np.zeros(pad, np.int64)])
                e = (s * s).reshape(-1, _VAD_FRAME).sum(axis=1)
                act = np.nonzero(e)[0]
                ids.extend([did] * len(act))
                fidx.extend(act.tolist())
                energy.extend(e[act].tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "energy": energy}
            )

    frames = wav.mapInPandas(frame_energy, frame_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    isl = (F.col("frame_idx") - F.row_number().over(w)).alias("isl")
    segs = (
        frames.select("doc_id", "frame_idx", "energy", isl)
        .groupBy("doc_id", "isl")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum("energy").cast("long").alias("seg_energy"),
        )
    )
    return segs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum("n_frames").cast("long").alias("active_frames"),
        F.max("n_frames").cast("long").alias("max_segment_frames"),
        F.sum("seg_energy").cast("long").alias("total_energy"),
    )


# --- perceptual-hash image near-dup (round 7) --------------------------------

_PH_CLASSES = 512  # content classes: docs in one class share base pixels
_PH_VARIANTS = 4  # per-doc variant perturbs ONE pixel by v*40
_PH_KNUTH = 2654435761  # Knuth multiplicative hash (public constant)
_PH_BANDS = 4  # 4 x 16-bit bands: complete for hamming <= 3 (pigeonhole)
_PH_HAM = 3

_PHASH_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(COALESCE(text, '')), 1, 15)) AS BIGINT)
           % {_PH_CLASSES} AS c,
         doc_id % {_PH_VARIANTS} AS v
  FROM documents
),
cv AS (SELECT DISTINCT c, v FROM d),
px AS (
  SELECT c, v, k, k % 8 AS x, k // 8 AS y,
         CASE WHEN k = (v * 17) % 64
              THEN (((((c * 64 + k + 1) * {_PH_KNUTH}) % 4294967296) // 8192)
                    % 251 + v * 40) % 251
              ELSE ((((c * 64 + k + 1) * {_PH_KNUTH}) % 4294967296) // 8192)
                   % 251
         END AS pix
  FROM cv, (SELECT unnest(generate_series(0, 63)) AS k)
),
uv AS (
  SELECT uu.u AS u, ww.w AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS u) uu,
       (SELECT unnest(generate_series(0, 7)) AS w) ww
  WHERE NOT (uu.u = 0 AND ww.w = 0)
),
co AS (
  SELECT c, v, u, w,
         sum(pix * (1 - 2 * ((bit_count(y & u) + bit_count(x & w)) % 2)))
           AS coeff
  FROM px, uv
  GROUP BY c, v, u, w
),
h AS (
  SELECT c, v,
         CAST(sum(CASE WHEN coeff > 0
                       THEN (CAST(1 AS BIGINT) << (u * 8 + w - 1))
                       ELSE 0 END) AS BIGINT) AS phash
  FROM co GROUP BY c, v
),
dh AS (SELECT d.doc_id, h.phash FROM d JOIN h ON d.c = h.c AND d.v = h.v),
hg AS (SELECT phash, CAST(count(*) AS BIGINT) AS cnt FROM dh GROUP BY phash),
near AS (
  SELECT a.phash, CAST(COALESCE(sum(b.cnt), 0) AS BIGINT) AS n_near
  FROM hg a LEFT JOIN hg b
    ON a.phash <> b.phash
   AND bit_count(xor(a.phash, b.phash)) <= {_PH_HAM}
  GROUP BY a.phash
)
SELECT dh.doc_id, dh.phash,
       CAST(hg.cnt - 1 AS BIGINT) AS n_exact_dup,
       near.n_near AS n_near_dup
FROM dh
JOIN hg ON dh.phash = hg.phash
JOIN near ON dh.phash = near.phash
"""


def _phash_image(text: Column, doc_id: Column) -> Column:
    """Deterministic 8x8 grayscale FIMG for a document: its content class
    ``c`` (md5 of the text, folded to ``_PH_CLASSES``) picks
    avalanche-hashed base pixels shared by the whole class, and its
    variant ``v = doc_id mod _PH_VARIANTS`` perturbs one pixel by v*40 —
    so same-class docs are exact or near duplicates by construction and
    the oracle predicts every pixel closed-form."""
    md5_prefix = F.substring(F.md5(F.coalesce(text, F.lit(""))), 1, 15)
    c = F.pmod(F.conv(md5_prefix, 16, 10).cast("long"), F.lit(_PH_CLASSES))
    v = F.pmod(doc_id, F.lit(_PH_VARIANTS))

    def pixel(k: Column) -> Column:
        p = F.floor((((c * 64 + k + 1) * _PH_KNUTH) % 2**32) / 8192) % 251
        return F.when(k == (v * 17) % 64, (p + v * 40) % 251).otherwise(p)

    px = F.transform(F.sequence(F.lit(0), F.lit(63)), pixel)
    return _media_blob(M.FIMG_MAGIC, F.lit(8), F.lit(8), _byte_array(px))


@register("media_image_phash", _PHASH_ORACLE)
def q_media_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate detection — the multimodal
    member of the dedup family (text: minhash/simhash/allpairs;
    embeddings: SRP-LSH; images: THIS). Real bytes end-to-end: each doc's
    8x8 grayscale FIMG payload is built as a column (``_phash_image``),
    decoded back by ``image_phash`` (Arrow-batched), and fingerprinted with the 63-bit
    Walsh–Hadamard sign hash (integer-exact DCT stand-in — classic pHash
    with a portable basis). Dedup then runs entirely in signature space:

      exact-collapse (group identical hashes) → 4x16-bit banded
      self-join over DISTINCT hashes only (complete for hamming <= 3 by
      pigeonhole: 3 flipped bits cannot touch all 4 bands) → verify
      bit_count(xor) <= 3 → per-doc exact/near duplicate counts.

    The oracle recomputes the hash closed-form from the class/variant
    pixel construction and brute-forces all distinct-hash pairs — Spark's
    banded candidate set must equal it, so band completeness is
    hash-certified, not asserted.

    Scale shape: pixels never shuffle; the candidate join is
    distinct-signature-sized (exact-collapse discipline, as
    `operators/dedup.py`); per-doc counts come from one broadcastable
    signature-stats frame. Reference scope: the engine's image blocks
    (`block_image_resize.go`) have no near-dup operator — this is part
    of the beyond-reference LLM-data surface."""
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", _phash_image(F.col("text"), F.col("doc_id")).alias("payload_bin")
    )
    # persist: the Arrow-batched codec+WHT stage is the expensive part
    # and feeds three lineage branches (stats, bands, final join) —
    # without this the Python stage runs once per branch (review fix)
    hashed = M.image_phash(src).select("doc_id", "phash").persist()
    hg = hashed.groupBy("phash").agg(F.count("*").cast("long").alias("cnt"))
    bands = hg.select(
        "phash",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("phash"), 16 * k)
                        .bitwiseAND(F.lit(65535))
                        .alias("bv"),
                    )
                    for k in range(_PH_BANDS)
                ]
            )
        ).alias("s"),
    ).select("phash", "cnt", "s.band", "s.bv")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bv") == F.col("r.bv"))
            & (F.col("l.phash") < F.col("r.phash")),
        )
        .select(
            F.col("l.phash").alias("h1"),
            F.col("l.cnt").alias("c1"),
            F.col("r.phash").alias("h2"),
            F.col("r.cnt").alias("c2"),
        )
        .distinct()
        .where(
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= _PH_HAM
        )
    )
    near = (
        cand.select(F.col("h1").alias("phash"), F.col("c2").alias("ocnt"))
        .unionAll(
            cand.select(F.col("h2").alias("phash"), F.col("c1").alias("ocnt"))
        )
        .groupBy("phash")
        .agg(F.sum("ocnt").cast("long").alias("n_near"))
    )
    return (
        hashed.join(hg, "phash")
        .join(near, "phash", "left")
        .select(
            "doc_id",
            "phash",
            (F.col("cnt") - 1).cast("long").alias("n_exact_dup"),
            F.coalesce(F.col("n_near"), F.lit(0))
            .cast("long")
            .alias("n_near_dup"),
        )
    )


# --- audio constellation fingerprint near-dup (round 8) -----------------------

#: Closed-form oracle for the audio constellation pipeline: recompute the
#: per-word fingerprints the DSP path extracts from real WAV bytes —
#: onset-anchored 8-sample frames, integer Walsh-Hadamard transform,
#: frame code = peak bin * 256 + sign byte of bins 1-7 — directly from
#: the text (the synth is deterministic: sample = 256·(1 + ascii % 96),
#: words separated by ≥16 zero samples ⇒ voiced runs ≡ nonempty words),
#: then an INDEPENDENT exact algorithm for the join: shared-landmark
#: counting (inverted index + group-by pair), vs Spark's prefix-filter
#: join. Two theorems, one answer, with the codec in the loop.
_AUDIO_FP_CTES = """
    ws AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    wpos AS (
      SELECT doc_id, words, unnest(generate_series(1, len(words))) AS wi
      FROM ws WHERE len(words) >= 1
    ),
    wrd AS (
      SELECT doc_id, wi, words[wi] AS w, length(words[wi]) AS wl
      FROM wpos WHERE length(words[wi]) > 0
    ),
    fr AS (
      SELECT doc_id, wi, w, wl,
             unnest(generate_series(0, (wl + 7) // 8 - 1)) AS f
      FROM wrd
    ),
    co AS (
      SELECT doc_id, wi, wl, f, kk.k AS k,
        list_sum(list_transform(generate_series(0, 7), i ->
          CASE WHEN 8 * f + i + 1 <= wl
               THEN CAST(256 * (1 + ascii(w[8 * f + i + 1]) % 96) AS BIGINT)
                    * (1 - 2 * (bit_count(i & kk.k) % 2))
               ELSE 0 END)) AS coef
      FROM fr, (SELECT unnest(generate_series(1, 7)) AS k) kk
    ),
    pk AS (
      SELECT doc_id, wi, wl, f,
             (list(k ORDER BY abs(coef) DESC, k ASC))[1] AS peak,
             CAST(sum(CASE WHEN coef > 0 THEN (1 << (k - 1)) ELSE 0 END)
                  AS BIGINT) AS signb
      FROM co GROUP BY doc_id, wi, wl, f
    ),
    fp AS (
      SELECT doc_id, wi,
             CAST(wl AS VARCHAR) || ':' ||
             string_agg(CAST(peak * 256 + signb AS VARCHAR), ',' ORDER BY f)
               AS fp
      FROM pk GROUP BY doc_id, wi, wl
    ),
    seq AS (SELECT doc_id, list(fp ORDER BY wi) AS fps FROM fp GROUP BY doc_id),
    grp AS (SELECT doc_id AS doc, md5(array_to_string(fps, '|')) AS gid FROM seq),
    rep AS (SELECT gid, min(doc) AS rep FROM grp GROUP BY gid),
    lm AS (
      SELECT doc_id,
        list_distinct([CAST(concat('0x', substr(md5(
              fps[i] || '|' || fps[i+1] || '|' || fps[i+2]), 1, 15)) AS BIGINT)
           for i in generate_series(1, len(fps) - 2)]) AS sh
      FROM seq
      WHERE len(fps) >= 3 AND doc_id IN (SELECT rep FROM rep)
    ),
    inv AS (SELECT doc_id, unnest(sh) AS s FROM lm),
    prs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    rp2 AS (
      SELECT d1 AS r1, d2 AS r2, round(j, 6) AS jaccard FROM (
        SELECT d1, d2,
               common / (len(da.sh) + len(db.sh) - common) AS j
        FROM prs JOIN lm da ON da.doc_id = d1 JOIN lm db ON db.doc_id = d2
      ) WHERE j >= 0.6
    ),
    members AS (SELECT g.doc, r.rep FROM grp g JOIN rep r ON r.gid = g.gid),
    outp AS (
      SELECT least(ma.doc, mb.doc) AS d1, greatest(ma.doc, mb.doc) AS d2,
             rp2.jaccard
      FROM rp2 JOIN members ma ON ma.rep = rp2.r1
               JOIN members mb ON mb.rep = rp2.r2
      UNION ALL
      -- within-group pairs key on the stream digest alone: byte-identical
      -- audio is a duplicate even below the 3-segment landmark floor
      SELECT wa.doc AS d1, wb.doc AS d2, 1.0 AS jaccard
      FROM members wa JOIN members wb
        ON wa.rep = wb.rep AND wa.doc < wb.doc
    )
"""

_AUDIO_FP_ORACLE = f"WITH {_AUDIO_FP_CTES} SELECT d1, d2, jaccard FROM outp"


@register("audio_fingerprint_dedup", _AUDIO_FP_ORACLE)
def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection by constellation fingerprinting (Wang,
    ISMIR'03; Chromaprint gram chaining) — the AUDIO member of the
    multimodal dedup family (image member: ``media_image_phash``).

    Pipeline: text → deterministic PCM synth → REAL RIFF/WAV bytes →
    decode → onset-anchored voiced segments (maximal nonzero-sample
    runs — sample-level VAD, which is what makes the fingerprint
    shift-invariant under edits earlier in the stream) → per-segment
    integer Walsh-Hadamard peak trajectory
    (``operators/audio_fingerprint.py``) → constellation landmarks =
    md5-fold60 hashes of THREE consecutive segment fingerprints (anchor
    + target zone; gram chaining keeps the landmark universe
    high-entropy — single short-segment codes are a ~10-bit alphabet,
    the small-alphabet pathology the r07 edit-join probe documented) →
    exact Jaccard ≥ 0.6 self-join over landmark sets via the certified
    prefix-filter kernel (``dedup.allpairs_prefix_join``), after
    exact-collapsing docs with byte-identical fingerprint STREAMS
    (audio-content identity — a strictly coarser key than text identity:
    proportional frames share codes, so e.g. 'aa bb cc dd' and
    'ee ff gg hh' are audio-identical; the oracle reproduces this).
    Within-group (byte-identical) pairs are emitted for EVERY digest
    group at J = 1.0 — including streams below the 3-consecutive-segment
    landmark floor, which produce no landmarks but are still exact
    duplicates (ADVICE r8: exact-dup semantics key on the stream digest,
    not on rep-has-landmarks). Streams with ZERO voiced segments (no
    nonempty words) have no audio content and are excluded on both sides.

    Scale shape: ONE fused Arrow-batched codec+DSP stage (synth → real
    RIFF/WAV bytes → decode → fingerprint inside a single batch — the
    codec round-trip stays in the loop, but the binary payload no longer
    crosses Arrow twice; VERDICT r8 #3); landmark window + stream digest
    are doc-keyed (one exchange); candidate generation inherits the
    prefix-filter bound (pair work ~ Σ C(prefix_df, 2), rare-first);
    expansion is output-linear. Persist contract: ``segs`` and ``d``
    stay cached until the caller clears persisted RDDs
    (bench.py/check_oracle.py discipline).

    Reference scope analogue: the reference dedups only exactly via the
    stage-store content hash (storages.go); audio fingerprinting is part
    of this engine's training-data extension surface.
    """
    from pyspark.sql import Window

    from ..functions.intmath import md5_fold60
    from ..operators import audio_fingerprint as AF
    from ..operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # persist: the fused codec+WHT stage is the expensive part and feeds
    # both the stream digest and the landmark window
    segs = AF.synth_segment_fingerprints(
        docs, _synth_samples, _VAD_RATE
    ).persist()

    stream = segs.groupBy("doc").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "fp"))),
                    lambda x: x["fp"],
                ),
                "|",
            )
        ).alias("gid")
    )
    rep = stream.groupBy("gid").agg(F.min("doc").alias("rep"))
    members = stream.join(rep, "gid").select("doc", "rep")
    reps = members.select(F.col("rep").alias("doc")).distinct()

    w = Window.partitionBy("doc").orderBy("seg_idx")
    lm = (
        segs.join(reps, "doc")
        .select(
            "doc",
            "fp",
            F.lead("fp", 1).over(w).alias("f1"),
            F.lead("fp", 2).over(w).alias("f2"),
        )
        .where(F.col("f2").isNotNull())
        .select(
            "doc", md5_fold60(F.concat_ws("|", "fp", "f1", "f2")).alias("h")
        )
    )
    d = (
        lm.groupBy("doc")
        .agg(F.sort_array(F.collect_set("h")).alias("sh"))
        .persist()
    )
    rp = dedup.allpairs_prefix_join(d, 0.6)
    return dedup._expand_member_pairs(
        rp, members, d, within_requires_signature=False
    )
