"""Property-based tests (hypothesis): kernels hold their contracts over
generated inputs, not just the fixture corpus.

Pure-Python kernels (PNG codec, audio chunking, ASS time) get wide input
ranges; Spark column kernels run a small number of examples with one tiny
job each (string semantics vs an independent Python model)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_pipelines_worker_spark.operators import media as M
from data_pipelines_worker_spark.operators import png_codec as P

# derandomize: the same example set every run — property regressions fail
# deterministically instead of flaking an unrelated CI run
FAST = settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
SPARK_FAST = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


class TestPngProperties:
    @FAST
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        ch=st.sampled_from([1, 2, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_roundtrip_identity(self, w, h, ch, seed):
        rng = np.random.default_rng(seed)
        arr = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        assert np.array_equal(P.png_decode(P.png_encode(arr)), arr)

    @FAST
    @given(
        w=st.integers(2, 30),
        h=st.integers(2, 30),
        ow=st.integers(1, 40),
        oh=st.integers(1, 40),
    )
    def test_resize_dims_and_range(self, w, h, ow, oh):
        arr = np.fromfunction(
            lambda y, x, c: (x * 7 + y * 13 + c) % 256, (h, w, 3)
        ).astype(np.uint8)
        out = P.resize_bilinear(arr, ow, oh)
        assert out.shape == (oh, ow, 3)
        # bilinear never extrapolates beyond the input value range
        assert out.min() >= arr.min() and out.max() <= arr.max()

    @FAST
    @given(sigma=st.floats(0.1, 5.0), seed=st.integers(0, 1000))
    def test_blur_preserves_constant_images(self, sigma, seed):
        v = seed % 256
        arr = np.full((9, 11, 3), v, dtype=np.uint8)
        assert np.array_equal(P.gaussian_blur(arr, sigma), arr)


class TestMediaProperties:
    @FAST
    @given(
        seconds=st.floats(0.1, 30.0),
        duration=st.floats(0.2, 10.0),
        rate=st.integers(10, 200),
    )
    def test_audio_chunks_partition_the_stream(self, seconds, duration, rate):
        samples = bytes(i % 256 for i in range(int(seconds * rate)))
        audio = M.faud_encode(rate, samples)
        chunks = M.audio_chunk_bytes(audio, duration)
        # chunks reassemble to the exact input; all but the last are full
        joined = b"".join(M.faud_decode(c)[1] for c in chunks)
        assert joined == samples
        step = max(1, int(duration * rate))
        for c in chunks[:-1]:
            assert len(M.faud_decode(c)[1]) == step

    @FAST
    @given(
        n_vids=st.integers(2, 6),
        secs=st.lists(st.floats(0.1, 3.0), min_size=6, max_size=6),
    )
    def test_join_videos_frame_count_additive(self, n_vids, secs):
        img = M.fimg_encode(4, 4, bytes(16))
        vids = [
            M.video_from_image_bytes(img, 0.0, secs[i], fps=10)
            for i in range(n_vids)
        ]
        total = sum(M.fvid_meta(v)[3] for v in vids)
        assert M.fvid_meta(M.join_videos_bytes(vids))[3] == total

    @FAST
    @given(every=st.integers(1, 10), seconds=st.floats(0.1, 5.0))
    def test_frame_sample_count(self, every, seconds):
        img = M.fimg_encode(3, 3, bytes(9))
        vid = M.video_from_image_bytes(img, 0.0, seconds, fps=10)
        n = M.fvid_meta(vid)[3]
        frames = M.video_frame_sample_bytes(vid, every)
        assert len(frames) == (n + every - 1) // every if n else len(frames) == 0


TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    max_size=40,
)


class TestStringKernelProperties:
    @SPARK_FAST
    @given(rows=st.lists(st.tuples(TEXT, TEXT, TEXT), min_size=1, max_size=20))
    def test_wrap_text_matches_python_model(self, spark, rows):
        # wrap_text = ltrim-spaces(prefix) + ltrim(text) + ltrim(suffix)
        # (block_wrap_text.go:67-71 TrimLeft(" ") semantics)
        from data_pipelines_worker_spark.functions.strings import wrap_text
        from data_pipelines_worker_spark.session import local_df

        df = local_df(
            spark,
            [(i, t, p, s) for i, (t, p, s) in enumerate(rows)],
            "i long, t string, p string, s string",
        )
        got = {
            r.i: r.out
            for r in df.select(
                "i", wrap_text(F.col("t"), F.col("p"), F.col("s")).alias("out")
            ).collect()
        }
        for i, (t, p, s) in enumerate(rows):
            want = p.lstrip(" ") + t.lstrip(" ") + s.lstrip(" ")
            assert got[i] == want, (t, p, s)

    @SPARK_FAST
    @given(
        rows=st.lists(
            st.tuples(TEXT, st.text(min_size=1, max_size=5), TEXT),
            min_size=1,
            max_size=20,
        )
    )
    def test_text_replace_matches_python_model(self, spark, rows):
        from data_pipelines_worker_spark.functions.strings import text_replace
        from data_pipelines_worker_spark.session import local_df

        df = local_df(
            spark,
            [(i, t, o, n) for i, (t, o, n) in enumerate(rows)],
            "i long, t string, o string, n string",
        )
        got = {
            r.i: r.out
            for r in df.select(
                "i",
                text_replace(F.col("t"), F.col("o"), F.col("n")).alias("out"),
            ).collect()
        }
        for i, (t, o, n) in enumerate(rows):
            # block_text_replace.go:63-79: text and new both TrimLeft(" ")
            assert got[i] == t.lstrip(" ").replace(o, n.lstrip(" ")), (t, o, n)


class TestCurationProperties:
    """Curation kernels vs independent Python models over generated docs."""

    WORDS = st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=1, max_size=12
    )

    @SPARK_FAST
    @given(ws=WORDS, n=st.integers(2, 3))
    def test_ngrams_match_naive_model(self, spark, ws, n):
        from data_pipelines_worker_spark.operators import curation as cu

        df = spark.createDataFrame([(ws,)], "ws array<string>")
        got = df.select(cu.ngrams(F.col("ws"), n).alias("g")).collect()[0].g
        want = [" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 0))]
        assert got == want

    @SPARK_FAST
    @given(ws=WORDS)
    def test_top_count_matches_counter(self, spark, ws):
        from collections import Counter

        from data_pipelines_worker_spark.operators import curation as cu

        df = spark.createDataFrame([(ws,)], "ws array<string>")
        got = df.select(cu.top_count(F.col("ws")).alias("t")).collect()[0].t
        assert got == max(Counter(ws).values())

    @SPARK_FAST
    @given(ws=WORDS)
    def test_explode_ngrams_equals_ngrams_column(self, spark, ws):
        # the codegen explode path and the lambda column path must emit the
        # same gram multiset (ordering aside)
        from data_pipelines_worker_spark.operators import curation as cu

        df = spark.createDataFrame([(1, " ".join(ws))], "doc_id long, text string")
        a = sorted(
            r.gram for r in cu.explode_ngrams(df, "doc_id", "text", 2).collect()
        )
        b = sorted(
            df.select(F.explode(cu.ngrams(F.split(F.col("text"), " ", -1), 2)).alias("g"))
            .toPandas()["g"]
            .tolist()
        )
        assert a == b

    @SPARK_FAST
    @given(
        toks=st.lists(st.integers(1, 700), min_size=1, max_size=20),
        budget=st.sampled_from([256, 512]),
    )
    def test_greedy_packing_model(self, spark, toks, budget):
        # applyInPandas greedy == the obvious sequential model
        from data_pipelines_worker_spark.operators.curation import (
            sequence_packing_greedy,
        )

        rows = [("s", i, "x " * t) for i, t in enumerate(toks)]  # t tokens each
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        got = {
            r.doc_id: r.pack_id
            for r in sequence_packing_greedy(df, budget=budget).collect()
        }
        run, pid, want = 0, 0, {}
        for i, t in enumerate(toks):
            if run > 0 and run + t > budget:
                pid, run = pid + 1, 0
            run += t
            want[i] = pid
        assert got == want


class TestRound4KernelProperties:
    """Model-based checks for the round-4 sub-document dedup kernels:
    the Spark results must equal an independent pure-Python model on
    arbitrary word soups."""

    WORDS = st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=1, max_size=45
    )

    @SPARK_FAST
    @given(docs=st.lists(WORDS, min_size=1, max_size=8))
    def test_block_dedup_matches_python_model(self, spark, docs):
        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.session import local_df

        size = 4  # small blocks so multi-block docs are common
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = local_df(spark, rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_blocks"], r["n_kept"])
            for r in dedup.block_dedup_stats(df, "doc_id", "text", size=size).collect()
        }

        seen: set[str] = set()
        want: dict[int, tuple[int, int]] = {}
        for i, ws in sorted(enumerate(docs)):
            blocks = [
                " ".join(ws[j : j + size]) for j in range(0, len(ws), size)
            ]
            kept = 0
            for b in blocks:
                if b not in seen:
                    seen.add(b)
                    kept += 1
            want[i] = (len(blocks), kept)
        assert got == want

    @SPARK_FAST
    @given(docs=st.lists(WORDS, min_size=1, max_size=8))
    def test_dup_coverage_matches_python_model(self, spark, docs):
        from collections import Counter

        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.session import local_df

        n = 3
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = local_df(spark, rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_grams"], r["n_dup_pos"])
            for r in dedup.dup_ngram_coverage(df, "doc_id", "text", n=n).collect()
        }

        grams = {
            i: [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
            for i, ws in enumerate(docs)
        }
        counts = Counter(g for gs in grams.values() for g in gs)
        want = {
            i: (len(gs), sum(1 for g in gs if counts[g] > 1))
            for i, gs in grams.items()
            if gs
        }
        assert got == want

    @SPARK_FAST
    @given(docs=st.lists(WORDS, min_size=1, max_size=8))
    def test_span_removal_matches_python_model(self, spark, docs):
        from collections import Counter

        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.session import local_df

        n = 3
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = local_df(spark, rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_dup_tokens"])
            for r in dedup.dup_span_removal(df, "doc_id", "text", n=n).collect()
        }

        grams = {
            i: [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
            for i, ws in enumerate(docs)
            if len(ws) >= n
        }
        counts = Counter(g for gs in grams.values() for g in gs)
        want = {}
        for i, gs in grams.items():
            covered: set[int] = set()
            for pos0, g in enumerate(gs):
                if counts[g] > 1:
                    covered.update(range(pos0, pos0 + n))
            want[i] = (len(docs[i]), len(covered))
        assert got == want


class TestAnomalyMomentIdentity:
    @given(
        counts=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40)
    )
    @settings(max_examples=200, deadline=None)
    def test_squared_moment_test_equals_exact_3sigma(self, counts):
        # the integer test (c·B−S) > 0 ∧ (c·B−S)² > 9(B·Σc²−S²) must flag
        # exactly the buckets with c > μ + 3σ under EXACT rational
        # arithmetic (Fraction), for any count multiset
        from fractions import Fraction

        B = len(counts)
        S = sum(counts)
        S2 = sum(c * c for c in counts)
        mu = Fraction(S, B)
        var = Fraction(S2, B) - mu * mu
        for c in counts:
            d = c * B - S
            flagged = d > 0 and d * d > 9 * (B * S2 - S * S)
            exact = c > mu and Fraction((c - mu) ** 2) > 9 * var
            assert flagged == exact

    @given(
        words=st.lists(
            st.sampled_from(["the", "a", "of", "row", "scan", "join", "x"]),
            min_size=1,
            max_size=30,
        )
    )
    @settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_array_remove_stopword_count_matches_python(self, spark, words):
        # size(ws) − size(array_remove(ws, w)) summed over stopwords ==
        # multiplicity count (the codegen replacement for the F.filter
        # lambda must be semantics-identical)
        from data_pipelines_worker_spark.session import local_df

        sw = ("the", "a", "of", "and", "to", "in", "is")
        text = " ".join(words)
        df = local_df(spark, [(text,)], "t string")
        ws = F.split("t", " ", -1)
        col = sum((F.size(ws) - F.size(F.array_remove(ws, w))) for w in sw)
        got = df.select(col.alias("c")).collect()[0].c
        assert got == sum(1 for w in words if w in sw)


class TestRound6KernelProperties:
    """Model-based checks for the round-6 containment/novelty kernels.
    Texts are sampled from a small pool so byte-identical duplicates are
    common — the exact-collapse layer is exercised, not just the
    unique-text fast path."""

    # a handful of base word-soups; lists sample WITH repetition so the
    # same text appears under several doc ids
    _POOL = [
        "a b c d e f g",
        "a b c d",
        "x y z w v",
        "a b c d e f g h i j",
        "p q r",
        "x y z",
    ]
    TEXTS = st.lists(st.sampled_from(_POOL), min_size=1, max_size=10)

    @staticmethod
    def _shingles(text: str, k: int = 3) -> frozenset:
        ws = text.split(" ")
        return frozenset(
            " ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)
        )

    @SPARK_FAST
    @given(texts=TEXTS)
    @pytest.mark.slowsuite
    def test_containment_matches_python_model(self, spark, texts):
        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.session import local_df

        thr = 0.8
        rows = [(i, t) for i, t in enumerate(texts)]
        df = local_df(spark, rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["container_id"], r["containment"])
            for r in dedup.containment_pairs(df, "doc_id", "text", thr).collect()
        }

        # model: exact-collapse to min-id rep, rep-level containment over
        # full shingle sets (the df-cap floor of 50 never binds at this
        # size), argmax (c desc, container asc), then the member lift
        reps: dict[str, int] = {}
        for i, t in rows:
            reps[t] = min(reps.get(t, i), i)
        sh = {
            i: self._shingles(t)
            for t, i in reps.items()
            if len(t.split(" ")) >= 3
        }
        want: dict[int, tuple[int, float]] = {}
        for a, sa in sh.items():
            best = None
            for b, sb in sh.items():
                if b == a:
                    continue
                bigger = len(sb) > len(sa) or (len(sb) == len(sa) and b < a)
                if not (bigger and (sa & sb)):
                    continue
                c = len(sa & sb) / len(sa)
                if c >= thr and (
                    best is None or (-c, b) < (-best[1], best[0])
                ):
                    best = (b, c)
            if best is not None:
                want[a] = (best[0], round(best[1], 6))
        for i, t in rows:
            r = reps[t]
            if r != i and r in sh:
                want[i] = (r, 1.0)
        assert got == want

    @SPARK_FAST
    @given(texts=TEXTS)
    def test_shingle_novelty_matches_python_model(self, spark, texts):
        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.session import local_df

        rows = [(i, t) for i, t in enumerate(texts)]
        df = local_df(spark, rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
            for r in dedup.shingle_novelty(df, "doc_id", "text").collect()
        }

        sh = {
            i: self._shingles(t)
            for i, t in rows
            if len(t.split(" ")) >= 3
        }
        first: dict[str, int] = {}
        for i in sorted(sh):
            for s in sh[i]:
                first.setdefault(s, i)
        want = {}
        for i, ss in sh.items():
            novel = sum(1 for s in ss if first[s] == i)
            want[i] = (len(ss), novel, round(novel / len(ss), 6))
        assert got == want
