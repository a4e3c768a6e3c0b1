"""Semantic/property tests for the round-9 additions (the oracle hash
gate covers full-permutation parity; these pin the ALGORITHMIC claims
of the prefix-doubling construction)."""

from __future__ import annotations

import pytest

from data_pipelines_worker_spark.session import release_cached

SF = "/root/testdata/sf0.001"


def _ranks(spark, pairs):
    from data_pipelines_worker_spark.operators.suffix_array import (
        suffix_ranks,
    )

    df = spark.createDataFrame(pairs, "doc_id long, text string")
    out = suffix_ranks(df).collect()
    by_doc: dict[int, dict[int, int]] = {}
    for r in out:
        by_doc.setdefault(r.doc, {})[r.pos] = r.rank
    return by_doc


class TestSuffixArrayUnit:
    def test_banana_worked_example(self, spark):
        # suffixes of 'banana' sorted: a, ana, anana, banana, na, nana
        # -> rank by position: 4 3 6 2 5 1
        got = _ranks(spark, [(1, "banana")])[1]
        assert [got[p] for p in range(6)] == [4, 3, 6, 2, 5, 1]

    def test_run_of_equal_chars_breaks_ties_by_length(self, spark):
        # 'aaaa': every suffix is a prefix of the longer ones — the
        # doubling's rank-0 missing-partner rule must sort shorter first
        got = _ranks(spark, [(1, "aaaa")])[1]
        assert [got[p] for p in range(4)] == [4, 3, 2, 1]

    def test_rank_is_a_permutation_and_matches_python_sort(self, spark):
        texts = [
            (1, "abab"),
            (2, "mississippi"),
            (3, "x"),
            (4, "the the the quick the"),
        ]
        got = _ranks(spark, texts)
        for doc_id, text in texts:
            n = len(text)
            ranks = [got[doc_id][p] for p in range(n)]
            assert sorted(ranks) == list(range(1, n + 1))
            # independent model: direct python sort of suffix strings
            order = sorted(range(n), key=lambda i: text[i:])
            expect = [0] * n
            for rank0, p in enumerate(order):
                expect[p] = rank0 + 1
            assert ranks == expect

    def test_empty_and_missing_docs_emit_no_rows(self, spark):
        got = _ranks(spark, [(1, ""), (2, "ab")])
        assert 1 not in got
        assert [got[2][p] for p in range(2)] == [1, 2]


def _span_stats(spark, pairs, threshold=8):
    from data_pipelines_worker_spark.operators.global_suffix import (
        corpus_repeated_span_stats,
    )

    df = spark.createDataFrame(pairs, "doc_id long, text string")
    out = corpus_repeated_span_stats(df, "doc_id", "text", threshold)
    rows = {r.doc_id: (r.dup_pos_cnt, r.dup_token_cov, r.max_rep_tokens) for r in out.collect()}
    release_cached(spark)
    return rows


def _py_model(pairs, threshold):
    """Independent O(n^2) model: token LCP over ALL suffix pairs."""
    toks = {d: t.split(" ") for d, t in pairs if len(t) > 0}
    sufs = [(d, i) for d, w in toks.items() for i in range(len(w))]

    def lcp(a, b):
        wa, wb = toks[a[0]][a[1]:], toks[b[0]][b[1]:]
        n = 0
        for x, y in zip(wa, wb):
            if x != y:
                break
            n += 1
        return n

    ml = {}
    for i, s in enumerate(sufs):
        best = 0
        for j, t in enumerate(sufs):
            if i != j:
                best = max(best, lcp(s, t))
        ml[s] = best
    out = {}
    for d, w in toks.items():
        dup = sorted(i for i in range(len(w)) if ml[(d, i)] >= threshold)
        cov = 0
        for k, p in enumerate(dup):
            cov += threshold if k == 0 else min(threshold, p - dup[k - 1])
        out[d] = (len(dup), cov, max(ml[(d, i)] for i in range(len(w))))
    return out


class TestGlobalSuffixUnit:
    def test_global_eq_rank_order_and_equality(self, spark):
        # rank must be a pure function of the key (equality-preserving)
        # and strictly increasing in key order (order-isomorphic) — the
        # two properties the doubling recurrence consumes
        from data_pipelines_worker_spark.operators.global_suffix import (
            global_eq_rank,
        )

        vals = ["b", "a", "c", "a", "b", "a", "d", "c"] * 7
        df = spark.createDataFrame([(v, i) for i, v in enumerate(vals)], "k string, i long")
        got = global_eq_rank(df, ["k"], out="r").select("k", "r").collect()
        by_key = {}
        for r in got:
            by_key.setdefault(r.k, set()).add(r.r)
        assert all(len(s) == 1 for s in by_key.values()), by_key
        ranks = [by_key[k].pop() for k in sorted(by_key)]
        assert ranks == sorted(ranks) and len(set(ranks)) == len(ranks)
        assert min(ranks) >= 1  # 0 stays free for the missing-partner sentinel

    def test_identical_docs_fully_duplicated(self, spark):
        # two byte-identical 10-token docs: every suffix repeats in the
        # other doc, so max_rep = 10 and the T=8 mask covers positions
        # 1..3 with interval-union coverage 8+1+1 = 10 (the whole doc)
        t = "a b c d e f g h i j"
        got = _span_stats(spark, [(1, t), (2, t)])
        assert got == {1: (3, 10, 10), 2: (3, 10, 10)}

    def test_within_doc_repeat_and_threshold(self, spark):
        # 'x y z w x y z w q': the repeat is within ONE doc; at T=3 the
        # mask is positions {1,2,5,6} -> coverage 3+1+3+1 = 8, max lcp 4
        got = _span_stats(spark, [(1, "x y z w x y z w q")], threshold=3)
        assert got == {1: (4, 8, 4)}

    @pytest.mark.slowsuite
    def test_equal_single_token_docs_hit_eq_branch(self, spark):
        # equal suffixes shorter than BASE: lcp = min length via the
        # equal-top-rank branch (a truncated base-slice tie), not the walk
        got = _span_stats(spark, [(1, "q"), (2, "q"), (3, "zz")])
        assert got == {1: (0, 0, 1), 2: (0, 0, 1), 3: (0, 0, 0)}

    @pytest.mark.slowsuite
    def test_prefix_suffix_truncation_rule(self, spark):
        # 'a b' is a strict prefix of 'a b c': lcp 2 exactly (the
        # missing-partner sentinel must not over- or under-count)
        got = _span_stats(spark, [(1, "a b"), (2, "a b c")])
        assert got[1] == (0, 0, 2) and got[2] == (0, 0, 2)

    @pytest.mark.slowsuite
    def test_long_shared_run_crosses_walk_levels(self, spark):
        # a 19-token shared run: 19 = 16 (level accept) + 3 (sub-BASE
        # residual) — exercises the walk and the residual count-while
        run = " ".join(f"t{i}" for i in range(19))
        got = _span_stats(spark, [(1, run + " p q"), (2, run + " r s")])
        assert got[1][2] == 19 and got[2][2] == 19

    @pytest.mark.slowsuite
    def test_matches_python_all_pairs_model(self, spark):
        # randomized small corpus vs the O(n^2) all-pairs model: pins the
        # nearest-neighbor-lemma reduction AND every branch at once
        import random

        rng = random.Random(97)
        vocab = [f"w{i}" for i in range(7)]
        pairs = []
        for d in range(12):
            n = rng.randint(1, 14)
            pairs.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
        pairs.append((50, pairs[3][1]))  # one exact dup
        for t in (2, 8):
            assert _span_stats(spark, pairs, t) == _py_model(pairs, t), t


class TestWeightedJaccardUnit:
    @pytest.mark.slowsuite
    def test_multiset_semantics_diverge_from_set_jaccard(self, spark):
        # A = phrase x3, C = phrase x2: identical shingle SETS (set-J =
        # 1.0) but J_w = sum(min)/sum(max) = 4/7 — the weighted join must
        # exclude the pair at 0.6 and report it exactly at 0.5
        from data_pipelines_worker_spark.operators.dedup import (
            allpairs_prefix_pairs,
            weighted_jaccard_pairs,
        )

        A = "a b c a b c a b c"
        C = "a b c a b c"
        df = spark.createDataFrame(
            [(1, A), (2, C), (3, A)], "doc_id long, text string"
        )
        w06 = {
            (r.d1, r.d2): r.jaccard
            for r in weighted_jaccard_pairs(df, "doc_id", "text", 0.6).collect()
        }
        assert w06 == {(1, 3): 1.0}
        s06 = {
            (r.d1, r.d2)
            for r in allpairs_prefix_pairs(df, "doc_id", "text", 0.6).collect()
        }
        assert s06 == {(1, 2), (1, 3), (2, 3)}  # set-J saturates at 1.0
        w05 = {
            (r.d1, r.d2): r.jaccard
            for r in weighted_jaccard_pairs(df, "doc_id", "text", 0.5).collect()
        }
        assert w05 == {(1, 2): 0.571429, (1, 3): 1.0, (2, 3): 0.571429}
        spark.catalog.clearCache()


def _repeats(spark, pairs, min_len=8, top_n=20):
    from data_pipelines_worker_spark.operators.global_suffix import (
        corpus_maximal_repeats,
    )

    df = spark.createDataFrame(pairs, "doc_id long, text string")
    out = corpus_maximal_repeats(df, "doc_id", "text", min_len, top_n)
    rows = {(r.span, r.len_tokens, r.n_occ, r.n_docs) for r in out.collect()}
    release_cached(spark)
    return rows


def _repeats_model(pairs, min_len, top_n):
    """Independent model: literal suffix sort + adjacent token-LCP +
    distinct nodes + brute-force occurrence counting."""
    toks = {d: t.split(" ") for d, t in pairs if len(t) > 0}
    sufs = sorted(
        ((w[i:], d, i) for d, w in toks.items() for i in range(len(w))),
        key=lambda s: (" ".join(s[0]), s[1], s[2]),
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    nodes = set()
    for (wa, _, _), (wb, _, _) in zip(sufs, sufs[1:]):
        l = lcp(wa, wb)
        if l >= min_len:
            nodes.add((" ".join(wa[:l]), l))
    top = sorted(nodes, key=lambda n: (-n[1], n[0]))[:top_n]
    out = set()
    for span, l in top:
        occ = [
            d
            for d, w in toks.items()
            for i in range(len(w))
            if w[i : i + l] == span.split(" ") and i + l <= len(w)
        ]
        out.add((span, l, len(occ), len(set(occ))))
    return out


class TestMaximalRepeatsUnit:
    def test_shared_run_produces_nested_node_ladder(self, spark):
        run = "a b c d e f g h i j"
        pairs = [(1, run + " k l"), (2, "x " + run + " y")]
        got = _repeats(spark, pairs)
        assert got == {
            ("a b c d e f g h i j", 10, 2, 2),
            ("b c d e f g h i j", 9, 2, 2),
            ("c d e f g h i j", 8, 2, 2),
        }

    @pytest.mark.slowsuite
    def test_self_overlapping_repetition_and_params(self, spark):
        # one doc = an 8-token phrase x3: occurrences overlap; counts
        # must be per-POSITION (suffix-array semantics), and min_len /
        # top_n must both bind
        phrase = "p q r s t u v w"
        pairs = [(1, " ".join([phrase] * 3))]
        for min_len, top_n in ((8, 20), (9, 3)):
            got = _repeats(spark, pairs, min_len, top_n)
            assert got == _repeats_model(pairs, min_len, top_n), (min_len, top_n)
        top = max(_repeats(spark, pairs), key=lambda r: r[1])
        assert top == (" ".join([phrase] * 2), 16, 2, 1)

    @pytest.mark.slowsuite
    def test_min_len_below_base_now_supported(self, spark):
        # the r10 class-key form rejected min_len < 8 (node identity
        # keyed on the level-8 rank table); the r11 ANSV-interval form
        # has no level dependence — sub-8 thresholds are exact now,
        # checked against the literal model (and min_len < 1 still
        # raises)
        import pytest as _pytest

        pairs = [(1, "a b c a b c"), (2, "b c a b")]
        for min_len in (1, 2, 3):
            got = _repeats(spark, pairs, min_len, 20)
            assert got == _repeats_model(pairs, min_len, 20), min_len
        with _pytest.raises(ValueError, match="min_len"):
            _repeats(spark, [(1, "a b c a b c")], 0, 5)

    @pytest.mark.slowsuite
    def test_candidate_handle_destroyed_before_return(self, spark, monkeypatch):
        # ADVICE r11 + the r12 ship gate: the ANSV candidate handle
        # must be reclaimed as soon as the node checkpoint exists — a
        # long-lived session issuing many suffix queries must not
        # accumulate broadcast blocks. Below _CAND_CLOSURE_MAX_ENTRIES
        # no SparkContext broadcast may be created AT ALL (the r12 A/B
        # measured its setup at ~0.5 s vs KB-sized closure arrays);
        # above it (forced via the gate) the real Broadcast must be
        # destroyed at plan-BUILD time (the resolver ran eagerly into
        # the node checkpoint) and the returned plan must still execute
        # correctly afterwards. lcp_interval_census returns a LAZY plan
        # whose resolver closure references its handle, so it must NOT
        # destroy (documented leak bound — ContextCleaner reclaims on
        # plan gc).
        from pyspark import SparkContext
        from pyspark.broadcast import Broadcast

        from data_pipelines_worker_spark.operators import global_suffix as gs

        sc_broadcasts, destroyed, ship_destroyed = [], [], []
        orig_bc, orig_destroy = SparkContext.broadcast, Broadcast.destroy
        orig_ship_destroy = gs._ClosureShip.destroy

        def bc_spy(self, value):
            b = orig_bc(self, value)
            sc_broadcasts.append(b)
            return b

        def destroy_spy(self, blocking=False):
            destroyed.append(self)
            return orig_destroy(self, blocking)

        def ship_destroy_spy(self, blocking=False):
            ship_destroyed.append(self)
            return orig_ship_destroy(self, blocking)

        monkeypatch.setattr(SparkContext, "broadcast", bc_spy)
        monkeypatch.setattr(Broadcast, "destroy", destroy_spy)
        monkeypatch.setattr(gs._ClosureShip, "destroy", ship_destroy_spy)
        docs = spark.createDataFrame(
            [(d, "a b c d e f g h i j") for d in range(6)],
            "doc_id long, text string",
        )
        expected = ("a b c d e f g h i j", 10, 6, 6)

        # default: tiny candidate set -> closure ship, zero broadcasts,
        # ship handle still reclaimed eagerly
        out = gs.corpus_maximal_repeats(docs, "doc_id", "text", 8, 5)
        assert not sc_broadcasts, "tiny candidate set must not broadcast"
        assert ship_destroyed, "closure ship not reclaimed at build time"
        rows = {(r.span, r.len_tokens, r.n_occ, r.n_docs) for r in out.collect()}
        assert expected in rows

        # forced-broadcast side of the gate: real Broadcast, destroyed
        # at build time, plan still correct afterwards
        monkeypatch.setattr(gs, "_CAND_CLOSURE_MAX_ENTRIES", 0)
        out = gs.corpus_maximal_repeats(docs, "doc_id", "text", 8, 5)
        assert sc_broadcasts, "gate at 0 must take the broadcast path"
        assert destroyed, "candidate broadcast not destroyed at build time"
        rows = {(r.span, r.len_tokens, r.n_occ, r.n_docs) for r in out.collect()}
        assert expected in rows

        # census: lazy plan, no eager destroy on either path
        n_d, n_s = len(destroyed), len(ship_destroyed)
        census = gs.lcp_interval_census(docs, "doc_id", "text", 8)
        assert census.count() > 0  # executes with a live broadcast
        monkeypatch.setattr(gs, "_CAND_CLOSURE_MAX_ENTRIES", 32_768)
        census = gs.lcp_interval_census(docs, "doc_id", "text", 8)
        assert census.count() > 0  # executes with a live closure ship
        assert len(destroyed) == n_d and len(ship_destroyed) == n_s, (
            "census must not destroy eagerly"
        )
        release_cached(spark)

    def test_string_doc_ids_supported(self, spark):
        # r11 review regression guard: document ids never enter the
        # ANSV kernel's Arrow schema (the representative endpoint is
        # fetched by joining the edge index back to the order frame),
        # so non-long id types work exactly as they did in the r10 form
        from data_pipelines_worker_spark.operators.global_suffix import (
            corpus_maximal_repeats,
        )

        pairs = [
            ("doc-a", "a b c d e f g h i j k"),
            ("doc-b", "x a b c d e f g h i j y"),
        ]
        df = spark.createDataFrame(pairs, "doc_id string, text string")
        got = {
            (r.span, r.len_tokens, r.n_occ, r.n_docs)
            for r in corpus_maximal_repeats(df, "doc_id", "text", 8, 20).collect()
        }
        assert got == _repeats_model(pairs, 8, 20)
        release_cached(spark)

    def test_matches_model_on_random_corpus(self, spark):
        import random

        rng = random.Random(31)
        vocab = [f"w{i}" for i in range(6)]
        pairs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 18))))
            for d in range(10)
        ]
        # planted concat + full dup: guarantees cross-doc nodes >= 8
        pairs.append((99, pairs[4][1] + " " + pairs[7][1]))
        pairs.append((100, pairs[-1][1]))
        got = _repeats(spark, pairs, 8, 12)
        assert got == _repeats_model(pairs, 8, 12)


def _census(spark, pairs, min_len=8):
    from data_pipelines_worker_spark.operators.global_suffix import (
        lcp_interval_census,
    )

    df = spark.createDataFrame(pairs, "doc_id long, text string")
    out = lcp_interval_census(df, "doc_id", "text", min_len)
    rows = {(r.len_tokens, r.n_nodes, r.total_occ) for r in out.collect()}
    release_cached(spark)
    return rows


def _census_model(pairs, min_len):
    """Independent model: distinct adjacent-LCP node set + brute-force
    prefix-match counting + per-length rollup (no interval machinery)."""
    toks = {d: t.split(" ") for d, t in pairs if len(t) > 0}
    sufs = sorted(
        ((w[i:], d, i) for d, w in toks.items() for i in range(len(w))),
        key=lambda s: (" ".join(s[0]), s[1], s[2]),
    )

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    nodes = set()
    for (wa, _, _), (wb, _, _) in zip(sufs, sufs[1:]):
        l = lcp(wa, wb)
        if l >= min_len:
            nodes.add((tuple(wa[:l]), l))
    per_len = {}
    for span, l in nodes:
        occ = sum(
            1
            for d, w in toks.items()
            for i in range(len(w) - l + 1)
            if tuple(w[i : i + l]) == span
        )
        n_nodes, tot = per_len.get(l, (0, 0))
        per_len[l] = (n_nodes + 1, tot + occ)
    return {(l, n, t) for l, (n, t) in per_len.items()}


class TestLcpIntervalCensusUnit:
    def test_nested_ladder_counts(self, spark):
        # phrase x3 in one doc: nodes 8..16 with interval counts that
        # must match brute-force prefix matching exactly (overlapping
        # occurrences included - suffix-array position semantics)
        phrase = "p q r s t u v w"
        pairs = [(1, " ".join([phrase] * 3))]
        assert _census(spark, pairs) == _census_model(pairs, 8)

    @pytest.mark.slowsuite
    def test_cross_partition_boundary_resolution(self, spark):
        # tiny corpora spread over defaultParallelism range partitions:
        # nearly every edge's PSV/NSV crosses a partition boundary, so
        # this pins the control-plane merge path specifically
        import random

        rng = random.Random(53)
        vocab = [f"w{i}" for i in range(5)]
        pairs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
            for d in range(8)
        ]
        pairs.append((90, pairs[2][1]))
        pairs.append((91, pairs[2][1] + " " + pairs[5][1]))
        for t in (2, 8):
            assert _census(spark, pairs, t) == _census_model(pairs, t), t

    def test_single_token_repeated_doc(self, spark):
        # the degenerate suffix corpus: one token repeated N times.
        # Every suffix is a prefix of every longer one, the LCP array is
        # a staircase of all-distinct values, and the interval counts
        # must match overlapping brute-force prefix matching exactly
        pairs = [(1, " ".join(["dup"] * 60))]
        assert _census(spark, pairs) == _census_model(pairs, 8)

    @pytest.mark.slowsuite
    def test_boilerplate_plateau_pair(self, spark):
        # constant-LCP plateaus: the same long boilerplate block
        # repeated across docs produces equal-LCP runs that pend in
        # full inside their range partition — the executor-side
        # boundary-resolution path (r10 fix) under its worst shape
        boiler = " ".join(f"b{i}" for i in range(10))
        pairs = [(d, boiler) for d in range(40)]
        pairs.append((90, boiler + " tail one"))
        pairs.append((91, "head " + boiler))
        for t in (2, 8):
            assert _census(spark, pairs, t) == _census_model(pairs, t), t

    @pytest.mark.slowsuite
    def test_census_consistent_with_maximal_repeats(self, spark):
        # cross-operator invariant: the census's n_nodes at the MAXIMUM
        # length must equal the number of top-length rows the top-N
        # query reports (two different node keyings - class keys vs
        # interval bounds - naming the same node set)
        run = " ".join(f"t{i}" for i in range(11))
        pairs = [(1, run + " a b"), (2, run + " c d"), (3, "x " + run)]
        census = _census(spark, pairs)
        top_len = max(r[0] for r in census)
        n_at_top = next(r[1] for r in census if r[0] == top_len)
        got = _repeats(spark, pairs, 8, 50)
        assert n_at_top == sum(1 for r in got if r[1] == top_len)


class TestAnsvSweepUnit:
    def test_sweep_matches_brute_force(self):
        # the executor-side boundary resolver's kernel: offline
        # nearest-smaller-with-threshold, both sides, fuzzed against an
        # O(P x C) brute force (ties, empty candidate sets, duplicate
        # query positions, thresholds off the value grid)
        import numpy as np

        from data_pipelines_worker_spark.operators.global_suffix import (
            _nearest_smaller_sweep,
        )

        rng = np.random.default_rng(11)
        for trial in range(200):
            n_c = int(rng.integers(0, 40))
            n_q = int(rng.integers(1, 60))
            ci = np.unique(rng.integers(0, 100, n_c)).astype(np.int64)
            cl = rng.integers(0, 12, len(ci)).astype(np.int64)
            qi = rng.integers(0, 100, n_q).astype(np.int64)
            ql = rng.integers(0, 12, n_q).astype(np.int64)
            psv = _nearest_smaller_sweep(ci, cl, qi, ql, np.int64(-777))
            nsv = -_nearest_smaller_sweep(
                -ci[::-1], cl[::-1], -qi, ql, np.int64(-999_999)
            )
            for q in range(n_q):
                left = [c for c in range(len(ci)) if ci[c] < qi[q] and cl[c] < ql[q]]
                right = [c for c in range(len(ci)) if ci[c] > qi[q] and cl[c] < ql[q]]
                assert psv[q] == (ci[left[-1]] if left else -777), (trial, q)
                assert nsv[q] == (ci[right[0]] if right else 999_999), (trial, q)

    def test_distributed_kernel_matches_brute_force_psv_nsv(self, spark):
        # the full distributed kernel (_ansv_resolved_edges: range
        # exchange -> per-partition stack scan -> candidate-only
        # collect -> broadcast-shipped executor resolve): resolved
        # global PSV/NSV must match an O(n^2) whole-array brute force
        # regardless of how the range exchange split the edges. Fuzzed
        # with duplicate values and plateaus.
        import random

        from data_pipelines_worker_spark.operators import global_suffix as gs
        from data_pipelines_worker_spark.operators.global_suffix import (
            _ansv_resolved_edges,
            _suffix_build_confs,
        )

        rng = random.Random(7)
        gate_default = gs._CAND_CLOSURE_MAX_ENTRIES
        for trial in range(4):
            n = rng.randint(1, 120)
            ll = [rng.randint(0, 6) for _ in range(n)]
            edges = spark.createDataFrame(
                [(i + 1, ll[i]) for i in range(n)], "i long, l long"
            )
            # odd trials force the broadcast side of the candidate ship
            # gate so BOTH transports go through the brute-force check
            gs._CAND_CLOSURE_MAX_ENTRIES = 0 if trial % 2 else gate_default
            try:
                with _suffix_build_confs(spark):
                    spark.conf.set("spark.sql.shuffle.partitions", "8")
                    got = {
                        r["i"]: (r["psv"], r["nsv"])
                        for r in _ansv_resolved_edges(edges, n + 1, 0)[0].collect()
                    }
            finally:
                gs._CAND_CLOSURE_MAX_ENTRIES = gate_default
            assert len(got) == n, trial
            for x in range(n):
                lefts = [j + 1 for j in range(x) if ll[j] < ll[x]]
                rights = [j + 1 for j in range(x + 1, n) if ll[j] < ll[x]]
                exp = (lefts[-1] if lefts else 0, rights[0] if rights else n + 1)
                assert got[x + 1] == exp, (trial, x)
            release_cached(spark)

    def test_sweep_is_not_quadratic_memory(self):
        # staircase regression: |cand| is maxlen-sized there, so the
        # resolver must never build a (pending x candidate) grid — the
        # sweep handles 200k x 200k in well under a second and flat memory
        import time

        import numpy as np

        from data_pipelines_worker_spark.operators.global_suffix import (
            _nearest_smaller_sweep,
        )

        n = 200_000
        ci = np.arange(1, 2 * n, 2, dtype=np.int64)
        cl = np.arange(n, dtype=np.int64)  # staircase values
        qi = np.arange(2, 2 * n + 1, 2, dtype=np.int64)
        ql = np.full(n, 1, dtype=np.int64)
        t0 = time.time()
        out = _nearest_smaller_sweep(ci, cl, qi, ql, np.int64(0))
        dt = time.time() - t0
        # the only candidate with value < 1 is index 1 (value 0)
        assert (out == np.where(qi > 1, 1, 0)).all()
        assert dt < 5.0, dt


class TestDocsBroadcastSwap:
    @pytest.mark.slowsuite
    def test_shuffle_path_parity_with_broadcast_path(self, spark, monkeypatch):
        # the 100 TB branch (VERDICT r10 #3): above _DOCS_BCAST_MAX_TOKENS
        # the walk's sub-BASE residual joins swap from the whole-corpus
        # token-array broadcast to doc-keyed shuffle equi-joins. Both
        # paths must be result-identical — exercised on a corpus with
        # non-multiple-of-8 LCPs (the residual actually binds), plateau
        # duplicates, and a staircase, across all three suffix consumers.
        from data_pipelines_worker_spark.operators import global_suffix as gs

        pairs = [
            (1, "a b c d e f g h i j k"),
            (2, "x a b c d e f g h i j y"),
            (3, "t " * 20 + "z"),
            (4, "p q r s t u v w p q r s t u v w"),
            (5, "a b c d e f g h i j k"),
        ]
        pairs = [(d, t.strip()) for d, t in pairs]
        docs = spark.createDataFrame(pairs, "doc_id long, text string")

        def snapshot():
            reps = {
                tuple(r)
                for r in gs.corpus_maximal_repeats(
                    docs, "doc_id", "text", 8, 20
                ).collect()
            }
            spans = {
                tuple(r)
                for r in gs.corpus_repeated_span_stats(
                    docs, "doc_id", "text", 8
                ).collect()
            }
            census = {
                tuple(r)
                for r in gs.lcp_interval_census(
                    docs, "doc_id", "text", 8
                ).collect()
            }
            release_cached(spark)
            return reps, spans, census

        bcast = snapshot()
        monkeypatch.setattr(gs, "_DOCS_BCAST_MAX_TOKENS", 0)
        shuffled = snapshot()
        assert bcast == shuffled
        assert bcast[0] and bcast[1] and bcast[2]


class TestSuffixNpartUnit:
    def test_three_regimes(self, spark):
        # the data-derived partition count (r10 lever): floor 8, the
        # ~100k-rows-per-task overhead regime capped at
        # defaultParallelism, and the ~2M-row partition cap that takes
        # over at scale regardless of cluster width
        from data_pipelines_worker_spark.operators.global_suffix import (
            _suffix_npart,
        )

        dp = spark.sparkContext.defaultParallelism
        assert _suffix_npart(0, spark) == 8
        assert _suffix_npart(100, spark) == 8
        # overhead regime: ceil(n/100k), capped at dp
        assert _suffix_npart(1_500_000, spark) == max(8, min(dp, 15))
        # exact formula, valid at any host dp (ADVICE r10: max(dp, 50)
        # only coincides with it while dp <= 1000)
        assert _suffix_npart(100_000_000, spark) == max(8, min(dp, 1000), 50)
        # scale regime dominates: 10^10 tokens -> 5000 partitions even
        # on a small cluster (a partition never holds more than ~2M rows)
        assert _suffix_npart(10_000_000_000, spark) == 5000
