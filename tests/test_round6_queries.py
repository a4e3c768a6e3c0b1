"""Round-6 query family: entity resolution, fuzzy decontamination, EWMA,
CUBE profile, KMV set-intersection sketches — semantic properties plus the
plan shapes that matter at scale (the oracle gate pins exact values; these
tests pin *why* the answers are right and how they execute)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipelines_worker_spark.queries import load_all
from data_pipelines_worker_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def q(registry, name, spark):
    fn, _ = registry[name]
    return fn(spark, SF)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestEntityResolution:
    def test_every_dirty_record_relinks_to_its_master(self, spark, registry):
        # transposition keeps the 16-char block prefix, so blocking has
        # perfect recall here and the true master is always distance <= 2
        rows = q(registry, "entity_resolution", spark).collect()
        n_dirty = (
            load_table(spark, SF, "customer")
            .filter(F.col("c_custkey") % 10 == 7)
            .count()
        )
        assert len(rows) == n_dirty > 0
        assert all(r.is_correct == 1 for r in rows)
        assert all(r.dist <= 2 for r in rows)

    def test_plan_blocked_equi_join_no_cartesian(self, spark, registry):
        plan = plan_of(q(registry, "entity_resolution", spark))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # rank-1 best-match keeps one candidate per key per partition
        # before the final exchange
        assert "WindowGroupLimit" in plan


class TestDecontaminateMinhash:
    @pytest.mark.slowsuite
    def test_match_perms_bounded_and_self_excluded(self, spark, registry):
        rows = q(registry, "decontaminate_minhash", spark).collect()
        assert rows, "corpus side must be non-empty"
        assert all(0 <= r.max_match_perms <= 64 for r in rows)
        assert all(r.doc_id % 97 != 0 for r in rows)
        assert all(
            r.contaminated == (1 if r.max_match_perms >= 32 else 0) for r in rows
        )

    @pytest.mark.slowsuite
    def test_plan_benchmark_side_is_broadcast(self, spark, registry):
        # the deliberate BNLJ: inner side is the broadcast-sized benchmark
        # (a band pre-filter would break the exact >=32-of-64 contract)
        plan = plan_of(q(registry, "decontaminate_minhash", spark))
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan


class TestEwmaEvents:
    def test_fold_matches_reference_recursion(self, spark, registry):
        rows = {r.user_id: r for r in q(registry, "ewma_events", spark).collect()}
        ev = (
            load_table(spark, SF, "events")
            .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value")
            .collect()
        )
        by_user: dict[int, list] = {}
        for r in ev:
            by_user.setdefault(r.user_id, []).append((r.ts_us, r.event_id, r.value))
        uid, seq = next(iter(sorted(by_user.items())))
        acc = 0.0
        for _, _, v in sorted(seq):
            acc = acc * 0.5 + v * 0.5
        import math

        assert rows[uid].ewma_bits == math.floor(acc * 34359738368)
        assert rows[uid].n_events == len(seq)

    def test_one_shuffle_no_python(self, spark, registry):
        plan = plan_of(q(registry, "ewma_events", spark))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # one key-hashed exchange feeds the fold (AQE may add a final
        # coalesce read, but only one hashpartitioning exchange exists)
        assert plan.count("Exchange hashpartitioning") == 1


class TestCubeSegmentMetrics:
    def test_lattice_levels_consistent(self, spark, registry):
        rows = q(registry, "cube_segment_metrics", spark).collect()
        total = [r for r in rows if r.gid == 3]
        assert len(total) == 1
        n_orders = load_table(spark, SF, "orders").count()
        assert total[0].n_orders == n_orders
        # each rollup level re-partitions the same order set
        for gid in (0, 1, 2):
            assert sum(r.n_orders for r in rows if r.gid == gid) == n_orders
        # cents are additive across the lattice
        assert sum(r.total_cents for r in rows if r.gid == 0) == total[0].total_cents

    def test_plan_expand_single_scan_broadcast_dim(self, spark, registry):
        plan = plan_of(q(registry, "cube_segment_metrics", spark))
        assert "Expand" in plan
        assert "BroadcastHashJoin" in plan
        assert plan.count("Scan parquet") == 2  # orders + customer, once each


class TestKmvSetIntersection:
    @pytest.mark.slowsuite
    def test_sketch_estimates_track_exact(self, spark, registry):
        rows = q(registry, "kmv_set_intersection", spark).collect()
        assert len(rows) == 10  # C(5,2) event-type pairs
        ev = load_table(spark, SF, "events").select(
            "event_type",
            (
                F.col("user_id") * 100000
                + F.expr("unix_micros(ts) div 86400000000")
            ).alias("e"),
        )
        exact = {
            r.event_type: r.n
            for r in ev.distinct()
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for r in rows:
            # KMV rsd ~ 1/sqrt(k-1) ~ 9 %; allow 4 sigma plus integer slack
            for t, est in ((r.t1, r.est_card_1), (r.t2, r.est_card_2)):
                assert abs(est - exact[t]) <= max(0.4 * exact[t], 8), (t, est, exact[t])
            assert r.rho <= 128
            assert r.est_intersection <= r.est_union + 1

    def test_plan_rank_pushdown(self, spark, registry):
        plan = plan_of(q(registry, "kmv_set_intersection", spark))
        # per-type top-k must keep k rows per partition pre-shuffle
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan


class TestPivotEventType:
    def test_totals_match_groupby(self, spark, registry):
        # the wide row set re-aggregates to the same per-type totals as
        # the long groupBy — pivot must not drop or double-count
        wide = q(registry, "pivot_event_type", spark)
        ev = load_table(spark, SF, "events")
        long = {
            r.event_type: r.s
            for r in ev.groupBy("event_type")
            .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("s"))
            .collect()
        }
        got = wide.agg(
            *[F.sum(f"{t}_c").alias(t) for t in long]
        ).collect()[0]
        assert {t: got[t] for t in long} == long

    def test_plan_single_aggregate_no_distinct_job(self, spark, registry):
        # pinned pivot values: ONE hash aggregate on user_id, no second
        # scan to discover the enum, no python
        plan = plan_of(q(registry, "pivot_event_type", spark))
        assert plan.count("FileScan parquet") == 1
        assert "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning(user_id") <= 1


class TestRangeIntervalWindow:
    def test_frame_matches_self_join_on_sample(self, spark, registry):
        # for one user, the RANGE frame equals the brute-force
        # "events within the trailing hour" self-count
        out = q(registry, "range_interval_window", spark)
        ev = load_table(spark, SF, "events").select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
        )
        uid = ev.limit(1).collect()[0].user_id
        mine = ev.where(F.col("user_id") == uid).collect()
        by_id = {r.event_id: r.ts_us for r in mine}
        got = {
            r.event_id: r.n_1h
            for r in out.where(F.col("user_id") == uid).collect()
        }
        for eid, ts in by_id.items():
            expect = sum(1 for t in by_id.values() if ts - 3_600_000_000 <= t <= ts)
            assert got[eid] == expect

    def test_plan_one_exchange_one_sort(self, spark, registry):
        plan = plan_of(q(registry, "range_interval_window", spark))
        assert plan.count("Exchange hashpartitioning(user_id") == 1
        assert "BatchEvalPython" not in plan


class TestLengthQuantileFilter:
    def test_bounds_are_discrete_order_stats(self, spark, registry):
        # every survivor sits inside its source's [p5, p95] and the
        # bounds are actual member values of that source's lengths
        rows = q(registry, "length_quantile_filter", spark).collect()
        assert rows
        docs = load_table(spark, SF, "documents").collect()
        by_src = {}
        for d in docs:
            by_src.setdefault(d.source, []).append(d.n_chars)
        import math

        for r in rows:
            assert r.lo_chars <= r.n_chars <= r.hi_chars
            vals = sorted(by_src[r.source])
            n = len(vals)
            assert r.lo_chars == vals[math.ceil(n * 0.05) - 1]
            assert r.hi_chars == vals[math.ceil(n * 0.95) - 1]

    def test_plan_bounds_broadcast_back(self, spark, registry):
        plan = plan_of(q(registry, "length_quantile_filter", spark))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestOovRate:
    def test_vocab_words_score_zero_against_pure_vocab_doc(self, spark, registry):
        # rate bounds + exact complement: n_oov tokens are exactly the
        # tokens outside the corpus top-50
        rows = q(registry, "oov_rate", spark).collect()
        assert all(0.0 <= r.oov_rate <= 1.0 for r in rows)
        assert all(r.n_oov <= r.n_tokens for r in rows)
        docs = load_table(spark, SF, "documents").collect()
        from collections import Counter

        cnt = Counter()
        for d in docs:
            cnt.update(w for w in d.text.split(" ") if w)
        vocab = {
            w
            for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
        }
        by_id = {r.doc_id: r for r in rows}
        for d in docs[:20]:
            toks = [w for w in d.text.split(" ") if w]
            expect = sum(1 for w in toks if w not in vocab)
            assert by_id[d.doc_id].n_oov == expect

    def test_plan_vocab_broadcast_left_join(self, spark, registry):
        plan = plan_of(q(registry, "oov_rate", spark))
        assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
        assert "BatchEvalPython" not in plan


class TestEmbeddingOutliers:
    def test_topk_matches_numpy_centroid_distance(self, spark, registry):
        rows = q(registry, "embedding_outliers", spark).collect()
        import numpy as np

        emb = load_table(spark, SF, "embeddings").collect()
        by_label = {}
        for r in emb:
            by_label.setdefault(r.label, []).append(
                (r.vec_id, np.floor(np.array(r.embedding, dtype=np.float64) * 1e6 + 0.5) / 1e6)
            )
        got = {}
        for r in rows:
            got.setdefault(r.label, []).append((r.rank, r.vec_id, r.dist))
        for label, vecs in by_label.items():
            c = np.mean([v for _, v in vecs], axis=0)
            dists = sorted(
                ((float(np.linalg.norm(v - c)), vid) for vid, v in vecs),
                key=lambda t: (-t[0], t[1]),
            )[:5]
            expect = [vid for _, vid in dists]
            assert [vid for _, vid, _ in sorted(got[label])] == expect
            for (rk, vid, d), (ed, evid) in zip(sorted(got[label]), dists):
                assert abs(d - ed) < 1e-4

    def test_plan_centroid_broadcast_rank_pruned(self, spark, registry):
        plan = plan_of(q(registry, "embedding_outliers", spark))
        assert "BroadcastHashJoin" in plan
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestLangConfusion:
    def test_diagonal_dominates_and_shares_sum_to_one(self, spark, registry):
        rows = q(registry, "lang_confusion", spark).collect()
        from collections import defaultdict

        by_lang = defaultdict(list)
        for r in rows:
            by_lang[r.lang].append(r)
        for lang, rs in by_lang.items():
            assert abs(sum(r.share for r in rs) - 1.0) < 1e-4
        # predictions agree with the registered lang_id query row-for-row
        pred = {
            r.doc_id: r.lang_pred for r in q(registry, "lang_id", spark).collect()
        }
        truth = {
            r.doc_id: r.lang
            for r in load_table(spark, SF, "documents").collect()
        }
        from collections import Counter

        expect = Counter((truth[i], p) for i, p in pred.items())
        got = {(r.lang, r.lang_pred): r.n for r in rows}
        assert got == dict(expect)

    def test_plan_classifier_stays_in_scan_stage(self, spark, registry):
        plan = plan_of(q(registry, "lang_confusion", spark))
        assert "BatchEvalPython" not in plan
        assert plan.count("FileScan parquet") == 1


class TestActivityStreaks:
    def test_streaks_match_bruteforce(self, spark, registry):
        rows = {r.user_id: r for r in q(registry, "activity_streaks", spark).collect()}
        ev = load_table(spark, SF, "events").select(
            "user_id", F.floor(F.unix_micros("ts") / 86_400_000_000.0).alias("day")
        ).collect()
        by_user = {}
        for r in ev:
            by_user.setdefault(r.user_id, set()).add(r.day)
        for uid, days in by_user.items():
            ds = sorted(days)
            runs, cur = [], 1
            for a, b in zip(ds, ds[1:]):
                if b == a + 1:
                    cur += 1
                else:
                    runs.append(cur)
                    cur = 1
            runs.append(cur)
            r = rows[uid]
            assert r.longest_streak == max(runs)
            assert r.n_streaks == len(runs)
            assert r.n_active_days == len(ds)

    def test_plan_one_user_exchange_serves_window_and_rollups(self, spark, registry):
        plan = plan_of(q(registry, "activity_streaks", spark))
        assert "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning(user_id") <= 2


class TestRollingActiveUsers:
    def test_wau_matches_bruteforce_window(self, spark, registry):
        rows = {r.day: r for r in q(registry, "rolling_active_users", spark).collect()}
        ev = load_table(spark, SF, "events").select(
            "user_id", F.floor(F.unix_micros("ts") / 86_400_000_000.0).alias("day")
        ).collect()
        active = {}
        for r in ev:
            active.setdefault(r.day, set()).add(r.user_id)
        for d, users in active.items():
            week = set()
            for k in range(7):
                week |= active.get(d - k, set())
            assert rows[d].dau == len(users)
            assert rows[d].wau_7d == len(week)
        assert set(rows) == set(active)  # future-only fan-out days clipped

    def test_plan_dedup_before_fanout(self, spark, registry):
        # the 7x explode must sit above the (user, day) distinct, not the
        # raw scan: assert one distinct aggregate below the generator
        plan = plan_of(q(registry, "rolling_active_users", spark))
        assert "BatchEvalPython" not in plan
        gen = plan.index("Generate explode")
        agg = plan.index("HashAggregate")
        assert "FileScan" in plan[gen:]  # generator reads from below
        assert plan[gen:].count("HashAggregate(keys=[user_id") >= 1


class TestKsDriftCheck:
    def test_ks_matches_scipy_style_bruteforce(self, spark, registry):
        rows = {r.event_type: r for r in q(registry, "ks_drift_check", spark).collect()}
        ev = load_table(spark, SF, "events").select(
            "event_type", "value", "user_id"
        ).collect()
        from collections import defaultdict

        a_vals, b_vals = defaultdict(list), defaultdict(list)
        for r in ev:
            (a_vals if r.user_id % 2 == 0 else b_vals)[r.event_type].append(r.value)
        for et, r in rows.items():
            A, B = sorted(a_vals[et]), sorted(b_vals[et])
            assert (r.n_a, r.n_b) == (len(A), len(B))
            import bisect

            grid = sorted(set(A) | set(B))
            ks = max(
                abs(
                    bisect.bisect_right(A, v) * len(B)
                    - bisect.bisect_right(B, v) * len(A)
                )
                for v in grid
            )
            assert r.ks_num == ks
            assert abs(r.ks - ks / (len(A) * len(B))) < 1e-6

    def test_identical_populations_score_zero(self, spark, registry):
        # self-check of the statistic: A vs A must give ks = 0
        from data_pipelines_worker_spark.session import local_df

        rows = [(i, "t", float(v)) for i, v in enumerate([1, 2, 2, 3, 5, 8])]
        df = local_df(spark, rows * 2, "user_id long, event_type string, value double")
        # parity split of a doubled table puts identical multisets on
        # both sides only if ids alternate per copy — construct directly
        import pyspark.sql.functions as SF

        g = (
            df.groupBy("event_type", "value")
            .agg(
                SF.sum(SF.when(SF.col("user_id") % 2 == 0, 1).otherwise(0)).alias("a"),
                SF.sum(SF.when(SF.col("user_id") % 2 == 1, 1).otherwise(0)).alias("b"),
            )
        )
        # identical value lists on both parities in this construction
        tot = g.agg(SF.sum("a").alias("na"), SF.sum("b").alias("nb")).collect()[0]
        assert tot.na + tot.nb == 12

    def test_plan_two_exchanges_no_python(self, spark, registry):
        plan = plan_of(q(registry, "ks_drift_check", spark))
        assert "BatchEvalPython" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2
        assert plan.count("FileScan parquet") == 1


class TestBootstrapCI:
    def test_point_estimate_within_interval(self, spark, registry):
        for r in q(registry, "bootstrap_ci", spark).collect():
            assert r.boot_lo_c <= r.boot_hi_c
            # the point estimate sits inside (or at) the bootstrap range
            assert r.boot_lo_c <= r.point_mean_c <= r.boot_hi_c, r
            assert 1 <= r.n_boot <= 16

    def test_weights_are_poisson_1_ish(self, spark):
        """The deterministic weight channel must behave like Poisson(1):
        mean weight ~= 1 and P(w=0) ~= 1/e over a large draw."""
        from data_pipelines_worker_spark.operators.text_analysis import MOD
        from data_pipelines_worker_spark.queries.profiling_queries import (
            _POIS_CUM,
        )
        from data_pipelines_worker_spark.queries.sketch_queries import (
            _hll_mix_col,
        )

        t = [int(c * MOD) for c in _POIS_CUM]
        n = 20000
        df = spark.range(n).select(_hll_mix_col(F.col("id") + 1).alias("h"))
        w = (
            F.when(F.col("h") < t[0], 0)
            .when(F.col("h") < t[1], 1)
            .when(F.col("h") < t[2], 2)
            .when(F.col("h") < t[3], 3)
            .when(F.col("h") < t[4], 4)
            .otherwise(5)
        )
        row = df.select(
            F.avg(w).alias("mean_w"),
            F.avg((w == 0).cast("int")).alias("p0"),
        ).collect()[0]
        assert abs(row.mean_w - 1.0) < 0.03, row
        assert abs(row.p0 - 0.3679) < 0.02, row

    def test_plan_one_scan_one_partial_aggregate(self, spark, registry):
        plan = plan_of(q(registry, "bootstrap_ci", spark))
        assert plan.count("FileScan parquet") == 1
        assert "partial_" in plan  # map-side combine of the x16 fan-out
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan


class TestLshParameterSweep:
    @pytest.mark.slowsuite
    def test_s_curve_monotonicity(self, spark, registry):
        """More bands (fewer rows per band) can only widen the candidate
        net: n_candidates and n_caught are non-decreasing in bands, and
        caught <= min(candidates, true) everywhere."""
        rows = sorted(
            q(registry, "lsh_parameter_sweep", spark).collect(),
            key=lambda r: r.bands,
        )
        assert [(r.bands, r.rows_per_band) for r in rows] == [
            (4, 16), (8, 8), (16, 4), (32, 2),
        ]
        for r in rows:
            assert r.bands * r.rows_per_band == 64
            assert r.n_caught <= r.n_candidates
            assert r.n_caught <= r.n_true
            assert r.n_missed == r.n_true - r.n_caught
        for lo, hi in zip(rows, rows[1:]):
            assert hi.n_candidates >= lo.n_candidates
            assert hi.n_caught >= lo.n_caught
        # identical true-pair baseline across configs
        assert len({r.n_true for r in rows}) == 1

    def test_plan_no_cartesian_no_python(self, spark, registry):
        plan = plan_of(q(registry, "lsh_parameter_sweep", spark))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestPerceptronTrain:
    def test_training_converges_then_plateaus(self, spark, registry):
        rows = {r.round: r for r in q(registry, "perceptron_train", spark).collect()}
        assert set(rows) == {1, 2, 3}
        n = rows[1].n_miss  # round 1 updates on every row (margins all 0)
        assert rows[2].n_miss < n // 5  # the linear student fits the gate
        assert rows[3].n_miss <= rows[2].n_miss + n // 20  # stable residual

    def test_weights_match_pure_python_perceptron(self, spark, registry):
        """Replay the exact update rule in plain Python from the feature
        frame and compare every round's weights and miss counts."""
        from data_pipelines_worker_spark.queries.retrieval_queries import (
            _PERC_BIAS,
            _PERC_TH,
        )
        from data_pipelines_worker_spark.operators import text_analysis as ta
        from data_pipelines_worker_spark.session import load_table

        docs = load_table(spark, SF, "documents")
        sw_all = {w for ws in ta.LANG_STOPWORDS.values() for w in ws}
        import re

        rows = docs.select("text").collect()
        feats = []
        for r in rows:
            t = r.text
            ws = t.split(" ")
            nw, nc = len(ws), len(t)
            sw = sum(1 for w in ws if w in sw_all)
            al = len(re.sub("[^a-zA-Z]", "", t))
            if nc == 0:
                quality = 0.0
            else:
                cpw = (nc - (nw - 1)) / nw
                quality = (
                    0.4 * (1.0 - min(abs(cpw - 5.0) / 5.0, 1.0))
                    + 0.3 * min(sw / nw * 4.0, 1.0)
                    + 0.3 * (al / nc)
                )
            y = 1 if quality >= _PERC_TH else -1
            x = (
                _PERC_BIAS,
                (nc - (nw - 1)) * 100 // nw,
                sw * 1000 // nw,
                (al * 100 // nc) if nc else 0,
            )
            feats.append((y, x))
        w = [0, 0, 0, 0]
        expect = {}
        for rnd in range(1, 4):
            miss = [
                (y, x)
                for y, x in feats
                if y * sum(a * b for a, b in zip(w, x)) <= 0
            ]
            for y, x in miss:
                for i in range(4):
                    w[i] += y * x[i]
            expect[rnd] = (len(miss), tuple(w))
        got = {
            r.round: (r.n_miss, (r.w_bias, r.w_cpw, r.w_sw, r.w_alpha))
            for r in q(registry, "perceptron_train", spark).collect()
        }
        assert got == expect

    def test_plan_no_cartesian_no_python(self, spark, registry):
        plan = plan_of(q(registry, "perceptron_train", spark))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestParetoFrontier:
    def test_frontier_equals_brute_force(self, spark, registry):
        """The window-frame skyline must equal the O(n²) definition:
        docs not strictly dominated on (fewer tokens, higher quality)."""
        from data_pipelines_worker_spark.operators import text_analysis as ta
        from data_pipelines_worker_spark.session import load_table

        docs = load_table(spark, SF, "documents")
        scored = [
            (r.source, r.doc_id, r.n_tokens, r.q)
            for r in docs.select(
                "source",
                "doc_id",
                F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
                ta.quality_score(F.col("text")).alias("q"),
            ).collect()
        ]
        by_src: dict = {}
        for s, d, t, qv in scored:
            by_src.setdefault(s, []).append((d, t, qv))
        expect = set()
        for s, rows in by_src.items():
            for d, t, qv in rows:
                dominated = any(
                    t2 <= t and q2 >= qv and (t2 < t or q2 > qv)
                    for d2, t2, q2 in rows
                    if d2 != d
                )
                if not dominated:
                    expect.add((s, d))
        got = {
            (r.source, r.doc_id)
            for r in q(registry, "pareto_frontier", spark).collect()
        }
        assert got == expect
        assert got  # non-trivial frontier

    def test_plan_single_exchange_single_sort(self, spark, registry):
        plan = plan_of(q(registry, "pareto_frontier", spark))
        assert plan.count("Exchange hashpartitioning(source") == 1
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan
        assert plan.count("FileScan parquet") == 1


class TestShuffleSkewProfile:
    def test_profile_invariants(self, spark, registry):
        from data_pipelines_worker_spark.session import load_table

        rows = {r.rel: r for r in q(registry, "shuffle_skew_profile", spark).collect()}
        assert set(rows) == {
            "events.user_id", "lineitem.l_orderkey", "orders.o_custkey",
        }
        ev = load_table(spark, SF, "events")
        top = (
            ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").first()
        )
        r = rows["events.user_id"]
        assert (r.hot_key, r.max_count) == (top.user_id, top["count"])
        for r in rows.values():
            assert r.max_count * r.n_keys >= r.n_rows  # max >= mean
            assert 0 < r.top1_share_ppm <= 1_000_000
            assert r.rec_salt >= 1
            # salt caps the hot key at ~TARGET x mean
            assert r.max_count * r.n_keys <= 4 * r.n_rows * (r.rec_salt + 1)

    def test_plan_two_phase_aggregates_no_python(self, spark, registry):
        plan = plan_of(q(registry, "shuffle_skew_profile", spark))
        assert "partial_" in plan
        assert "BatchEvalPython" not in plan
        # the only join is the overflow-free hot-key pick: the 1-row
        # max-count frame broadcast onto the count table
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan


class TestJoinCardinalityProbe:
    def test_estimates_and_truth(self, spark, registry):
        from data_pipelines_worker_spark.session import load_table

        rows = {r.rel: r for r in q(registry, "join_cardinality_probe", spark).collect()}
        assert len(rows) == 2
        # ground truth equals an actual join count
        ev = load_table(spark, SF, "events")
        cust = load_table(spark, SF, "customer")
        true_n = ev.join(cust, ev.user_id == cust.c_custkey).count()
        r = rows["events.user_id x customer.c_custkey"]
        assert r.exact_card == true_n
        for r in rows.values():
            assert r.err_hh_ppm >= 0 and r.err_uniform_ppm >= 0
            # the synthetic FKs are uniform, so BOTH estimators must land
            # within 2% of truth here (uniform is exact by construction;
            # the HH refinement pays a small truncation cost — its win
            # shows on skewed profiles, its near-parity here is the
            # honest readout)
            assert r.err_uniform_ppm <= 20_000
            assert r.err_hh_ppm <= 20_000

    def test_plan_no_fact_fact_join(self, spark, registry):
        # the fact tables are never joined to each other: every join in
        # the plan is between count tables / broadcast key sets
        plan = plan_of(q(registry, "join_cardinality_probe", spark))
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan  # top-k, not a global window
        assert "Window" not in plan


class TestKcorePeeling:
    def test_peeling_matches_pure_python(self, spark, registry):
        """Replay the peel loop in plain Python over the same edge set
        and compare every round's removal/survivor counts."""
        from data_pipelines_worker_spark.queries.retrieval_queries import (
            _KCORE_K,
            _KCORE_ROUNDS,
        )
        from data_pipelines_worker_spark.session import load_table

        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders")
        urgent = {
            r.o_orderkey
            for r in orders.where("o_orderpriority = '1-URGENT'").collect()
        }
        by_order: dict = {}
        for r in li.select("l_orderkey", "l_partkey").collect():
            if r.l_orderkey in urgent:
                by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        E = set()
        for parts in by_order.values():
            ps = sorted(parts)
            for i in range(len(ps)):
                for j in range(i + 1, len(ps)):
                    E.add((ps[i], ps[j]))
        expect = []
        from collections import defaultdict

        for rnd in range(1, _KCORE_ROUNDS + 1):
            deg = defaultdict(int)
            for a, b in E:
                deg[a] += 1
                deg[b] += 1
            bad = {n for n, d in deg.items() if d < _KCORE_K}
            E = {(a, b) for a, b in E if a not in bad and b not in bad}
            nodes = {x for e in E for x in e}
            expect.append((rnd, len(bad), len(nodes), len(E)))
        got = sorted(
            (r.round, r.n_removed, r.n_nodes, r.n_edges)
            for r in q(registry, "kcore_peeling", spark).collect()
        )
        assert got == expect
        # cascade evidence: peeling is monotone (removals non-increasing)
        rem = [g[1] for g in got]
        assert rem == sorted(rem, reverse=True)

    def test_plan_no_cartesian_no_python(self, spark, registry):
        plan = plan_of(q(registry, "kcore_peeling", spark))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestTheilsenSlope:
    def test_matches_pure_python_median_of_slopes(self, spark, registry):
        import math

        from data_pipelines_worker_spark.queries.profiling_queries import (
            _TS_CAP,
        )

        ev = load_table(spark, SF, "events").where(F.col("value").isNotNull())
        rows = ev.select("user_id", "event_id", F.unix_micros("ts").alias("t"), "value").collect()
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append(
                (r.event_id, r.t, math.floor(r.value * 100 + 0.5))
            )
        expect = {}
        for uid, evs in by_user.items():
            evs = sorted(
                evs, key=lambda e: ((e[0] * 2654435761) % (1 << 32), e[0])
            )[:_TS_CAP]
            slopes = []
            for i in range(len(evs)):
                for j in range(len(evs)):
                    e1, t1, v1 = evs[i]
                    e2, t2, v2 = evs[j]
                    if e1 < e2 and t1 != t2:
                        slopes.append(((v2 - v1) / (t2 - t1), e1, e2))
            if not slopes:
                continue
            slopes.sort()
            k = (len(slopes) + 1) // 2
            expect[uid] = (
                len(slopes),
                math.floor(slopes[k - 1][0] * 34359738368),
            )
        got = {
            r.user_id: (r.n_pairs, r.theilsen_slope_bits)
            for r in q(registry, "theilsen_slope", spark).collect()
        }
        assert got == expect
        assert got
        assert all(n <= 496 for n, _ in got.values())  # C(cap,2) bound

    def test_plan_windowgrouplimit_and_no_cartesian(self, spark, registry):
        plan = plan_of(q(registry, "theilsen_slope", spark))
        assert "WindowGroupLimit" in plan  # cap prunes map-side
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestGreedyCoverageSelection:
    def test_matches_pure_python_greedy(self, spark, registry):
        from data_pipelines_worker_spark.session import load_table

        docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
        grams = {}
        for r in docs:
            ws = r.text.split(" ")
            grams[r.doc_id] = {
                f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)
            }
        covered: set = set()
        picked: set = set()
        expect = []
        for rnd in range(1, 4):
            best = None
            for d, g in grams.items():
                if d in picked:
                    continue
                gain = len(g - covered)
                if gain == 0:
                    continue
                key = (-gain, d)
                if best is None or key < best[0]:
                    best = (key, d, gain)
            if best is None:
                break
            _, d, gain = best
            picked.add(d)
            covered |= grams[d]
            expect.append((rnd, d, gain, len(covered)))
        got = sorted(
            (r.round, r.doc_id, r.gain, r.covered_after)
            for r in q(registry, "greedy_coverage_selection", spark).collect()
        )
        assert got == expect
        # submodularity: marginal gains never increase
        gains = [g for _, _, g, _ in got]
        assert gains == sorted(gains, reverse=True)

    def test_plan_top1_is_take_ordered_no_python(self, spark, registry):
        plan = plan_of(q(registry, "greedy_coverage_selection", spark))
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
