"""Tests for the scale-operator families: dedup + similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipelines_worker_spark.operators import dedup, similarity
from data_pipelines_worker_spark.session import load_table


def test_exact_dedup_min_id_canonical(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], "id long, t string"
    )
    out = {r.id: (r.canonical_id, r.is_duplicate) for r in dedup.exact_dedup(df, "id", "t").collect()}
    assert out == {1: (1, False), 3: (1, True), 5: (1, True), 2: (2, False)}


def test_jaccard_pairs_planted_dup(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    near = "w0 w1 w2 w3 w4 w5 w6 w7 w8 zz"  # 8 common of 10 total shingles... high J
    other = "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9"
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id long, text string")
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p.d1, p.d2) for p in pairs] == [(1, 2)]


def test_verify_jaccard_filters_unrounded(spark):
    # {1,2,3} vs {1,2}: J = 2/3, which rounds to 0.666667 for output. The
    # threshold compares the unrounded J, so 0.6666667 drops the pair.
    sets = spark.createDataFrame([(1, [1, 2, 3]), (2, [1, 2])], "doc long, sh array<bigint>")
    cand = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    assert dedup.verify_jaccard(cand, sets, sets, 0.6666667).collect() == []
    rows = dedup.verify_jaccard(cand, sets, sets, 2 / 3).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 0.666667)]
    assert rows[0].asDict().keys() == {"r1", "r2", "jaccard"}


@pytest.mark.slowsuite
def test_minhash_matches_exact_jaccard_on_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.d1, r.d2) for r in dedup.jaccard_pairs(docs, "doc_id", "text", 0.6).collect()
    }
    lsh = {
        (r.d1, r.d2) for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", 0.6).collect()
    }
    assert lsh == exact  # LSH misses nothing at the planted J≈0.9 dup level


def test_simhash_similar_docs_close(spark):
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "the quick brown fox jumps over the lazy dog again and often"
    c = "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id long, t string")
    out = {
        r.id: r.h
        for r in df.select("id", dedup.simhash16(F.split("t", " ", -1)).alias("h")).collect()
    }
    ham_ab = bin(out[1] ^ out[2]).count("1")
    ham_ac = bin(out[1] ^ out[3]).count("1")
    assert ham_ab < ham_ac


def test_simhash_agg_matches_fold_variant(spark, sf_dir):
    """simhash16_agg (explode→groupBy, the scale path) must be bit-identical
    to simhash16 (map-only folds) on the real corpus — integer votes make
    aggregation order irrelevant."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    fold = {
        r.doc_id: r.simhash
        for r in docs.select("doc_id", dedup.simhash16(words).alias("simhash")).collect()
    }
    agg = {
        r.doc_id: r.simhash
        for r in dedup.simhash16_agg(docs, "doc_id", "text").collect()
    }
    assert agg == fold


def test_ann_bruteforce_finds_nearest(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # nearest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.ann_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=2).collect()
    assert [r.item_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_ann_lsh_subset_of_bruteforce_candidates(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    brute = similarity.ann_topk_bruteforce(emb, q, k=20)
    lsh = similarity.ann_topk_lsh(emb, q, k=5)
    brute_pairs = {(r.query_id, r.item_id) for r in brute.collect()}
    lsh_rows = lsh.collect()
    # LSH returns genuine (possibly fewer) neighbors with correct sims;
    # every LSH hit that brute-force ranked top-20 must carry the same sim.
    brute_sims = {
        (r.query_id, r.item_id): r.sim for r in brute.collect()
    }
    for r in lsh_rows:
        if (r.query_id, r.item_id) in brute_pairs:
            assert abs(brute_sims[(r.query_id, r.item_id)] - r.sim) < 1e-9


def test_ann_lsh_recall_floor(spark, sf_dir):
    """Recall gate: with seeded planes the LSH result is deterministic, so
    recall@1 vs the exact top-k has a fixed floor on this data. The planted
    near-dup structure keeps true nearest neighbors in the same SRP bucket
    most of the time; assert recall never silently regresses."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact1 = {
        r.query_id: r.item_id
        for r in similarity.ann_topk_bruteforce(emb, q, k=1).collect()
    }
    lsh = similarity.ann_topk_lsh(emb, q, k=5).collect()
    lsh_hits = {(r.query_id, r.item_id) for r in lsh}
    recalled = sum(1 for qid, iid in exact1.items() if (qid, iid) in lsh_hits)
    recall = recalled / len(exact1)
    assert recall >= 0.5, f"LSH recall@1 regressed: {recall:.2f}"
    # and every query that produced rows produced correctly-ranked rows
    by_q: dict = {}
    for r in lsh:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


@pytest.mark.slowsuite
def test_ann_ivf_recall_and_structure(spark, sf_dir):
    """IVF probes n_probe/n_cells of the corpus; with the planted near-dup
    structure the true nearest neighbor lands in a probed cell often enough
    for a fixed recall floor (deterministic: Knuth-hash seeds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact1 = {
        r.query_id: r.item_id
        for r in similarity.ann_topk_bruteforce(emb, q, k=1).collect()
    }
    ivf = similarity.ann_topk_ivf(emb, q, k=5).collect()
    hits = {(r.query_id, r.item_id) for r in ivf}
    recall = sum(1 for qid, iid in exact1.items() if (qid, iid) in hits) / len(exact1)
    assert recall >= 0.5, f"IVF recall@1 regressed: {recall:.2f}"
    # ranks are dense 1..n per query and sims match the exact scorer
    brute = {
        (r.query_id, r.item_id): r.sim
        for r in similarity.ann_topk_bruteforce(emb, q, k=50).collect()
    }
    by_q: dict = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r)
        if (r.query_id, r.item_id) in brute:
            assert abs(brute[(r.query_id, r.item_id)] - r.sim) < 1e-9
    for rows in by_q.values():
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))


def test_embedding_near_dup_symmetric_free(spark):
    vecs = [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.embedding_near_dup_pairs(df, threshold=0.99).collect()
    assert [(r.id1, r.id2) for r in out] == [(0, 1)]


@pytest.mark.slowsuite
def test_near_dup_blocked_subset_of_exact(spark, sf_dir):
    """Blocked LSH near-dup emits a subset of the exact all-pairs set,
    with sims identical on shared pairs (same strict-fold arithmetic)."""
    from data_pipelines_worker_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id1, r.id2): r.sim
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.4).collect()
    }
    blocked = {
        (r.id1, r.id2): r.sim
        for r in similarity.embedding_near_dup_blocked(emb, threshold=0.4).collect()
    }
    assert set(blocked) <= set(exact)
    for pair, sim in blocked.items():
        assert abs(sim - exact[pair]) < 1e-9


def test_near_dup_blocked_exact_collapse_guarantee(spark):
    """Byte-identical vectors are guaranteed pairs (exact-collapse layer),
    at sim 1.0, regardless of band collisions; a near-but-not-identical
    high-sim pair collides in every band too (all projections share sign
    for ~equal vectors with margin)."""
    v = [float(i % 7) - 3.0 for i in range(64)]
    w = [x + (1e-9 if i == 0 else 0.0) for i, x in enumerate(v)]
    u = [-x for x in v]
    df = spark.createDataFrame(
        [(10, v), (11, v), (12, v), (20, w), (30, u)],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r.id1, r.id2): r.sim
        for r in similarity.embedding_near_dup_blocked(df, threshold=0.9).collect()
    }
    # all intra-group pairs of the triplicate vector present at sim 1.0
    for pair in [(10, 11), (10, 12), (11, 12)]:
        assert pair in out and abs(out[pair] - 1.0) < 1e-6
    # near-identical cross-group pair collides in every band
    for pair in [(10, 20), (11, 20), (12, 20)]:
        assert pair in out
    # anti-parallel vector (sim -1) never passes the threshold verify
    assert not any(30 in p for p in out)


@pytest.mark.slowsuite
def test_ann_ivfpq_recall_and_rank_structure(spark, sf_dir):
    """IVF-PQ adds lossy ADC shortlisting on top of IVF probing; the exact
    re-rank stage restores true cosines for whatever survives the
    shortlist, so (a) recall@1 vs the exact scorer keeps a floor and
    (b) every reported sim equals the exact scorer's sim bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact1 = {
        r.query_id: r.item_id
        for r in similarity.ann_topk_bruteforce(emb, q, k=1).collect()
    }
    pq = similarity.ann_topk_ivfpq(emb, q, k=5).collect()
    hits = {(r.query_id, r.item_id) for r in pq}
    recall = sum(1 for qid, iid in exact1.items() if (qid, iid) in hits) / len(exact1)
    assert recall >= 0.5, f"IVF-PQ recall@1 regressed: {recall:.2f}"
    brute = {
        (r.query_id, r.item_id): r.sim
        for r in similarity.ann_topk_bruteforce(emb, q, k=200).collect()
    }
    by_q: dict = {}
    for r in pq:
        assert brute[(r.query_id, r.item_id)] == r.sim  # exact re-rank stage
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))


def test_pq_codes_reconstruction_sanity(spark, sf_dir):
    """PQ codebook sanity: a codebook donor vector quantizes to itself
    (zero error) in every subspace, and codes stay within [0, k)."""
    from data_pipelines_worker_spark.queries.similarity_queries import _PQ_K, _PQ_M

    emb = load_table(spark, sf_dir, "embeddings")
    codes = similarity.pq_encode(emb, m=_PQ_M, k=_PQ_K).collect()
    assert {r.subspace for r in codes} == set(range(_PQ_M))
    assert all(0 <= r.code < _PQ_K for r in codes)
    # donors: qdist exactly 0 in all subspaces
    by_vec: dict = {}
    for r in codes:
        by_vec.setdefault(r.vec_id, []).append(r.qdist)
    donors = [v for v, ds in by_vec.items() if all(d == 0.0 for d in ds)]
    assert len(donors) >= _PQ_K  # at least the codebook donors


# --- round-4 sub-document dedup + k-means ----------------------------------


def test_block_dedup_first_occurrence_survives(spark):
    blk = " ".join(f"w{i}" for i in range(20))  # one exact 20-word block
    df = spark.createDataFrame(
        [
            (1, blk + " " + "tail one"),     # block 0 = blk (first occurrence)
            (2, blk + " " + "other tail"),   # block 0 duplicates doc 1's
            (3, "completely different text here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.block_dedup_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_blocks"] == 2 and out[2]["n_kept"] == 1  # lost the dup block
    assert out[3]["n_kept"] == 1


def test_block_dedup_full_dup_doc_empty_fingerprint(spark):
    import hashlib

    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.block_dedup_stats(df, "doc_id", "text").collect()}
    assert out[2]["n_kept"] == 0
    assert out[2]["kept_fp"] == hashlib.md5(b"").hexdigest()


def test_dup_ngram_coverage_identical_docs_full(spark):
    text = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, ("x " * 20).strip())], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup.dup_ngram_coverage(df, "doc_id", "text", 8).collect()}
    assert out[1]["n_grams"] == 5 and out[1]["n_dup_pos"] == 5
    assert out[1]["dup_frac"] == 1.0
    # doc 3 is "x" repeated: every 8-gram equals every other -> all dup too
    assert out[3]["n_dup_pos"] == out[3]["n_grams"]


def test_dup_ngram_coverage_unique_doc_zero(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(10))), (2, " ".join(f"b{i}" for i in range(10)))],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.dup_ngram_coverage(df, "doc_id", "text", 8).collect()}
    assert out[1]["n_dup_pos"] == 0 and out[2]["n_dup_pos"] == 0


def test_kmeans_deterministic_across_partitioning(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.kmeans_int_assignments(emb, k=8, n_iter=2)
    b = similarity.kmeans_int_assignments(emb.repartition(7), k=8, n_iter=2)
    ra = {r["vec_id"]: r["cluster"] for r in a.collect()}
    rb = {r["vec_id"]: r["cluster"] for r in b.collect()}
    assert ra == rb
    assert set(ra.values()) <= set(range(8))
    assert len(set(ra.values())) > 1  # actually partitions the space


def test_kmeans_second_iteration_moves_centroids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    one = similarity.kmeans_int_assignments(emb, k=8, n_iter=1)
    two = similarity.kmeans_int_assignments(emb, k=8, n_iter=2)
    r1 = {r["vec_id"]: r["cluster"] for r in one.collect()}
    r2 = {r["vec_id"]: r["cluster"] for r in two.collect()}
    # Lloyd refinement reassigns at least one vector after the update
    assert r1 != r2


def test_kmeans_empty_input_returns_empty(spark):
    from data_pipelines_worker_spark.session import local_df

    empty = local_df(spark, [], "vec_id long, embedding array<double>")
    out = similarity.kmeans_int_assignments(empty, k=8, n_iter=2)
    assert out.columns == ["vec_id", "cluster"]
    assert out.count() == 0


def test_pagerank_int_path_graph_hand_check(spark):
    from data_pipelines_worker_spark.operators import graph
    from data_pipelines_worker_spark.session import local_df

    edges = local_df(spark, [(1, 2), (2, 3)], "d1 long, d2 long")
    out = {r["node"]: (r["deg"], r["rank_int"]) for r in graph.pagerank_int(edges, n_iter=1).collect()}
    # path 1-2-3: center receives both full end-ranks, ends receive half
    # of the center's: 150000 + floor(.85 * 2_000_000) / … hand-computed
    assert out[2] == (2, 150000 + 1_700_000)
    assert out[1] == (1, 150000 + 425_000)
    assert out[3] == (1, 150000 + 425_000)


def test_pagerank_int_deterministic_across_partitioning(spark, sf_dir):
    from data_pipelines_worker_spark.operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.6, k=3)
    a = {tuple(r) for r in graph.pagerank_int(pairs, n_iter=3).collect()}
    b = {tuple(r) for r in graph.pagerank_int(pairs.repartition(5), n_iter=3).collect()}
    assert a == b and len(a) > 0


def test_kmeans_empty_input_preserves_id_type(spark):
    from data_pipelines_worker_spark.session import local_df

    empty = local_df(spark, [], "vec_id string, embedding array<double>")
    out = similarity.kmeans_int_assignments(empty, k=4, id_col="vec_id")
    assert dict(out.dtypes) == {"vec_id": "string", "cluster": "bigint"}
    assert out.count() == 0


def test_pagerank_int_tolerates_both_orientations(spark):
    # (a,b) and (b,a) in the input must not double-count degrees
    from data_pipelines_worker_spark.operators import graph
    from data_pipelines_worker_spark.session import local_df

    canon = local_df(spark, [(1, 2), (2, 3)], "d1 long, d2 long")
    noisy = local_df(
        spark, [(1, 2), (2, 1), (2, 3), (2, 3)], "d1 long, d2 long"
    )
    a = {tuple(r) for r in graph.pagerank_int(canon, n_iter=2).collect()}
    b = {tuple(r) for r in graph.pagerank_int(noisy, n_iter=2).collect()}
    assert a == b


class TestLogStarCC:
    def _uf(self, pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonicalize to min of component
        comp = {}
        for x in list(parent):
            comp[x] = find(x)
        # find() path-halving may not fully root; iterate to fixpoint
        changed = True
        while changed:
            changed = False
            for x in comp:
                if comp[comp[x]] != comp[x]:
                    comp[x] = comp[comp[x]]
                    changed = True
        return comp

    @pytest.mark.slowsuite
    def test_logstar_matches_union_find_on_random_graphs(self, spark):
        import random

        from data_pipelines_worker_spark.operators.graph import (
            connected_components_logstar,
        )
        from data_pipelines_worker_spark.session import local_df

        rng = random.Random(7)
        for trial in range(4):
            n = rng.choice([8, 30, 60])
            pairs = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(n)
            ]
            pairs = [(a, b) for a, b in pairs if a != b]
            if not pairs:
                continue
            df = local_df(spark, pairs, "d1 long, d2 long")
            got = {
                r.node: r.component
                for r in connected_components_logstar(df).collect()
            }
            want = self._uf(pairs)
            assert got == want, (trial, sorted(pairs))

    def test_logstar_handles_long_chain(self, spark):
        # a path graph is the worst case for label propagation (diameter
        # rounds) and the motivating case for the alternating algorithm
        from data_pipelines_worker_spark.operators.graph import (
            connected_components_logstar,
        )
        from data_pipelines_worker_spark.session import local_df

        chain = [(i, i + 1) for i in range(60)]
        df = local_df(spark, chain, "d1 long, d2 long")
        got = {r.node: r.component for r in connected_components_logstar(df).collect()}
        assert got == {i: 0 for i in range(61)}

    @pytest.mark.slowsuite
    def test_logstar_equals_propagation_on_lsh_pairs(self, spark, sf_dir):
        from data_pipelines_worker_spark.operators import dedup
        from data_pipelines_worker_spark.operators.graph import (
            connected_components,
            connected_components_logstar,
        )
        from data_pipelines_worker_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6, k=3)
        pairs = pairs.localCheckpoint(eager=True)
        a = {r.node: r.component for r in connected_components(pairs).collect()}
        b = {
            r.node: r.component
            for r in connected_components_logstar(pairs).collect()
        }
        assert a == b


def test_containment_short_inside_long_flagged(spark):
    # doc 2 is a verbatim excerpt of doc 1: containment 1.0 even though
    # symmetric Jaccard is low (~8/28); doc 3 shares nothing.
    long_doc = " ".join(f"w{i}" for i in range(30))
    short_doc = " ".join(f"w{i}" for i in range(10, 20))
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, "q0 q1 q2 q3 q4")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.containment_pairs(df, "doc_id", "text", 0.8).collect()}
    assert set(out) == {2}
    assert out[2].container_id == 1
    assert out[2].containment == 1.0
    jac = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert not any({r.d1, r.d2} == {1, 2} for r in jac)  # Jaccard misses it


def test_containment_equal_size_ties_to_smaller_id(spark):
    # identical shingle sets: container must be the smaller id; only the
    # larger id is flagged (strict order — no mutual removal).
    t = "a b c d e f"
    df = spark.createDataFrame([(7, t), (4, t)], "doc_id long, text string")
    out = dedup.containment_pairs(df, "doc_id", "text", 0.8).collect()
    assert len(out) == 1
    assert out[0].doc_id == 7 and out[0].container_id == 4
    assert out[0].containment == 1.0


def test_containment_best_container_argmax(spark):
    # doc 30's shingles: covered 100% by doc 10 and also 100% by doc 20;
    # tie broken to the smaller container id.
    a = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(10, a + " x1 x2"), (20, a + " y1 y2"), (30, a)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.containment_pairs(df, "doc_id", "text", 0.8).collect()}
    assert out[30].container_id == 10 and out[30].containment == 1.0


def test_shingle_novelty_copy_scores_zero(spark):
    # doc 2 copies doc 1 verbatim: every shingle first appears in doc 1,
    # so doc 2's novelty is 0; doc 1 and the unrelated doc 3 score 1.0.
    t = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "q0 q1 q2 q3")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.shingle_novelty(df, "doc_id", "text").collect()}
    assert out[1].novelty == 1.0
    assert out[2].novelty == 0.0 and out[2].n_novel == 0
    assert out[3].novelty == 1.0
    assert out[1].n_shingles == 6  # 8 words -> 6 distinct 3-grams


def test_shingle_novelty_partial_overlap(spark):
    # doc 2 = 5 novel words + doc 1's text: its copied shingles are old,
    # its fresh ones new; exact fraction checked.
    a = "a b c d e"          # doc 1: shingles {abc bcd cde}
    b = "p q r s t a b c d e"  # doc 2: 8 shingles, 3 old (abc bcd cde)... 
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.shingle_novelty(df, "doc_id", "text").collect()}
    assert out[2].n_shingles == 8
    assert out[2].n_novel == 5  # pqr qrs rst sta tab (tab? t a b) -- 5 fresh
    assert out[2].novelty == 0.625
