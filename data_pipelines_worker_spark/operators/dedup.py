"""Deduplication operators for large-scale training-data pipelines.

Four families, each a standard scale pattern:

- **exact**: hash-groupBy on content → canonical id (one shuffle on a
  64-bit hash key, never on the full text);
- **n-gram Jaccard**: inverted-index self-join on shingles + exact Jaccard
  — the *exact verifier*; inherently candidate-quadratic, so at 100 TB it
  runs only on LSH candidates, never standalone;
- **MinHash + LSH**: xxhash64 shingles → k permutation-min signatures →
  banded bucket join → candidates → exact-Jaccard verify. The scale path:
  cost is O(docs·bands) + O(candidates), no all-pairs stage;
- **SimHash**: per-word code → signed plane sums → fingerprint; near-dups
  collide in Hamming space.

All built from pyspark.sql.functions only — no Python UDFs.
"""

from __future__ import annotations

import functools
import math
import operator
from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.intmath import exact_floordiv
from ..session import shuffle_partitions
from .text_analysis import MOD, word_codes

# LSH defaults: 64 permutations = 32 bands x 2 rows. For threshold t=0.6 a
# J=0.9 near-dup pair misses with prob (1-0.9^2)^32 ≈ 1e-23.
N_PERM = 64
N_BANDS = 32
ROWS_PER_BAND = N_PERM // N_BANDS

# Affine permutation constants (LCG-style multipliers); any fixed odd a
# works — determinism is what matters. The hash domain is 2^31-1 so that
# a*h+b stays < 2^63 under ANSI arithmetic (no overflow).
PERM_A = [2 * i * 40503 + 1 for i in range(1, N_PERM + 1)]
PERM_B = [i * 104729 + 12345 for i in range(1, N_PERM + 1)]
MERSENNE = MOD  # 2^31 - 1


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: every row mapped to the minimum id sharing its content.

    The window partitions by ``(xxhash64(text), text)`` — the text column is
    part of the shuffle key, so the exchange still carries the document body;
    the hash's role is purely to guard against 64-bit collisions merging
    distinct documents, not to shrink the shuffle. (A hash-only partitioning
    with a second collision-resolution pass would shuffle 8 bytes/row; at
    current scale the one-pass form wins on simplicity and equal correctness.)
    """
    from pyspark.sql import Window as W

    h = F.xxhash64(F.col(text_col)).alias("__h")
    w = W.partitionBy("__h", text_col)
    return (
        df.withColumn("__h", h)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .drop("__h")
    )


def doc_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, hash=F.xxhash64
) -> DataFrame:
    """(doc, h) — one row per word k-gram of every document, ``hash``-ed.

    The one shingle kernel of the dedup family: every shingle set and
    MinHash signature starts here. ``hash`` maps the space-joined gram
    column to a long — xxhash64 in production; the oracle-pinned queries
    pass an engine-portable hash DuckDB can reproduce.

    Shape: one doc-keyed exchange of TEXT rows, then the grams are built
    in whole-stage codegen AFTER the exchange — k shifted ``slice`` views
    zipped positionally (``curation._ngram_zip``), exploded and hashed.
    The exchange carries one row per document, not one per token, and a
    downstream ``groupBy(doc)`` reuses the hash(doc) partitioning. (A
    ``transform(sequence, …)`` lambda chain evaluates ~2 interpreted
    closures per shingle; a window-lead form sorts the token stream.)

    The exchange width is ``spark.sql.shuffle.partitions`` (the
    cluster-sized config), NOT ``defaultParallelism`` (a local-mode core
    count) and NOT a keyless ``repartition(col)``: a keyless doc exchange
    is AQE-coalescible, and at the benched SFs AQE coalesced it to ONE
    partition (measured r13: ``spark_partition_id().distinct() == 1`` vs
    32 pinned), serializing the gram/hash stage — whose per-gram compute
    is orders of magnitude heavier than the shuffled text bytes AQE sizes
    it by. Locally shuffle.partitions == defaultParallelism anyway.
    """
    from .curation import _gram_from_zip, _ngram_zip

    npart = shuffle_partitions(df.sparkSession)
    return (
        df.repartition(npart, F.col(id_col))
        .select(
            F.col(id_col).alias("doc"),
            F.explode(_ngram_zip(text_col, k)).alias("_g"),
        )
        .select("doc", hash(_gram_from_zip(k)).alias("h"))
    )


def minhash_mins(h: str) -> list[Column]:
    """The ``N_PERM`` MinHash aggregates ``m0 .. m{N_PERM-1}`` over the
    long column ``h``: ``min(pmod(h·PERM_A[i] + PERM_B[i], MERSENNE))``.
    Used as ``groupBy(key).agg(*minhash_mins("h"))`` — the mins combine
    map-side, so the shuffle carries ``N_PERM`` longs per group."""
    return [
        F.min(F.pmod(F.col(h) * PERM_A[i] + PERM_B[i], F.lit(MERSENNE))).alias(
            f"m{i}"
        )
        for i in range(N_PERM)
    ]


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc, sh: array<bigint>) — distinct xxhash64 k-shingles per
    document (:func:`doc_gram_hashes`); sort_array makes the array
    deterministic. The ``groupBy(doc)`` reuses the kernel's exchange."""
    return (
        doc_gram_hashes(df, id_col, text_col, k)
        .groupBy("doc")
        .agg(F.sort_array(F.collect_set("h")).alias("sh"))
        .where(F.size("sh") > 0)
    )


#: Hot-shingle document-frequency cap (VERDICT r4 #4): a shingle occurring
#: in more than max(JACCARD_DF_FLOOR, JACCARD_DF_FRAC · n_docs) documents
#: is dropped from *candidate generation* (never from the verify sets).
#: Bounds the inverted-index self-join at O(cap²) pairs per shingle — the
#: standard fix for the df² blowup on boilerplate grams (37.7× at the 10×
#: probe uncapped). The floor keeps small corpora exact: planted dup
#: cliques of ~10 copies sit far below 50.
JACCARD_DF_FLOOR = 50
JACCARD_DF_FRAC = 0.01


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = 3,
    df_cap: int | str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index self-join.

    Plan (uncapped, ``df_cap=None``): explode shingles → self-join on
    shingle (one shuffle, hash join) → count common per pair → join back
    set sizes → filter J ≥ t. Exact but candidate-quadratic — the LSH
    variant is the 100 TB path; this one doubles as its verifier and as
    the DuckDB-oracle-checkable truth.

    With ``df_cap`` (an int, or ``"auto"`` =
    ``max(JACCARD_DF_FLOOR, ceil(JACCARD_DF_FRAC · n_uniq))``) the scale
    path runs instead, layered the way production near-dup dedup is:

    1. **exact-collapse**: byte-identical texts group on ``md5(text)``;
       one representative (min id) per group proceeds. Real crawls are
       exact-dup-heavy, and identical docs would otherwise multiply both
       candidate work and verify work quadratically per group.
    2. **df-cap**: shingles in more than ``cap`` *unique texts* are
       excluded from candidate generation (df per shingle is one
       map-side-combined groupBy; the few hot shingles broadcast back as
       an anti-join). Bounds pair work at Σ_s min(df,cap)².
    3. **verify**: DISTINCT candidate rep pairs verify against the FULL
       shingle sets (``array_intersect``) — reported Jaccard values are
       exact; only pairs whose every common shingle is hot
       (boilerplate-only overlap) can be missed.
    4. **expand**: rep pairs fan back out to member pairs with the rep
       pair's J (identical texts ⇒ identical shingle sets ⇒ same J);
       within-group member pairs emit J = 1.0 exactly. Output-linear:
       each emitted row is one output pair.
    """
    if df_cap is None:
        d = _doc_shingles(df, id_col, text_col, k).persist()
        inv = d.select("doc", F.explode("sh").alias("s"))
        sizes = d.select("doc", F.size("sh").alias("n"))
        a, b = inv.alias("a"), inv.alias("b")
        common = (
            a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count("*").alias("common"))
        )
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        j = F.col("common") / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
        return (
            common.join(sa, F.col("d1") == F.col("sa.doc"))
            .join(sb, F.col("d2") == F.col("sb.doc"))
            .withColumn("jaccard", j)
            .where(F.col("jaccard") >= threshold)
            .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
        )
    members, d = _representatives(df, id_col, text_col, k, _doc_shingles)
    cand = _candidate_pairs(_capped_postings(d, df_cap), "s")
    return _expand_member_pairs(verify_jaccard(cand, d, d, threshold), members, d)


def _representatives(df: DataFrame, id_col: str, text_col: str, k: int, shingles):
    """The exact-collapse layer of the near-dup pair operators:
    ``(members, d)`` — ``members`` (doc, rep) from
    :func:`_text_group_members` and ``d`` the ``shingles`` sets
    (:func:`_doc_shingles` or :func:`_doc_weighted_shingles`) of the
    representatives only, byte-identical texts never reaching candidate
    generation.

    Both are persisted: ``members`` feeds the rep filter here AND all
    three legs of :func:`_expand_member_pairs`, ``d`` the candidate
    postings and both sides of the verify — without the cuts the
    md5-group shuffle and the shingling re-run once per consumer (r12
    recompute audit). Persist contract: both stay cached after the
    caller's action (the returned frames are lazy, so they cannot be
    unpersisted here without forcing an extra job); a long-lived caller
    drops them between queries with ``session.release_cached``.
    """
    members = _text_group_members(df, id_col, text_col).persist()
    reps = members.select(F.col("rep").alias("doc")).distinct()
    d = shingles(df, id_col, text_col, k).join(reps, "doc").persist()
    return members, d


def _capped_postings(d: DataFrame, df_cap: int | str) -> DataFrame:
    """(s, doc) postings of ``d`` minus the hot shingles: those in more
    than ``df_cap`` documents (``"auto"`` = ``max(JACCARD_DF_FLOOR,
    ceil(JACCARD_DF_FRAC · |d|))``). The df per shingle is one
    map-side-combined groupBy; the few hot shingles broadcast back as an
    anti-join."""
    if df_cap == "auto":
        # control-plane scalar (documented collect): unique-text count
        # after the ≥k-words filter, matching the oracle's count over d.
        cap = max(JACCARD_DF_FLOOR, math.ceil(JACCARD_DF_FRAC * d.count()))
    else:
        cap = int(df_cap)
    inv = d.select("doc", F.explode("sh").alias("s"))
    hot = inv.groupBy("s").agg(F.count("*").alias("df")).where(F.col("df") > cap)
    return inv.join(F.broadcast(hot.select("s")), "s", "left_anti")


def _candidate_pairs(postings: DataFrame, *keys: str) -> DataFrame:
    """Distinct candidate pairs (d1, d2), d1 < d2: the documents of
    ``postings`` that agree on every one of ``keys`` (a shingle, or an
    LSH band and its bucket)."""
    l, r = postings.alias("l"), postings.alias("r")
    on = [F.col(f"l.{key}") == F.col(f"r.{key}") for key in keys]
    on.append(F.col("l.doc") < F.col("r.doc"))
    return (
        l.join(r, functools.reduce(operator.and_, on))
        .select(F.col("l.doc").alias("d1"), F.col("r.doc").alias("d2"))
        .distinct()
    )


def verify_jaccard(
    cand: DataFrame, left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """(r1, r2, jaccard) — the candidate pairs ``cand`` (d1, d2) whose
    exact Jaccard over the FULL shingle sets, d1's from ``left`` and d2's
    from ``right`` (both ``(doc, sh)``), is ≥ ``threshold``. The filter
    reads the unrounded J; rounding to 6 places is for output only, the
    order the oracles use (filtering post-round would admit pairs in
    [t − 5e-7, t))."""
    sa = left.select(F.col("doc").alias("d1"), F.col("sh").alias("sh1"))
    sb = right.select(F.col("doc").alias("d2"), F.col("sh").alias("sh2"))
    common = F.col("common")
    return (
        cand.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("common", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn("jaccard", common / (F.size("sh1") + F.size("sh2") - common))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("d1").alias("r1"),
            F.col("d2").alias("r2"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def _text_group_members(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, rep) for every document: byte-identical texts group on
    md5(text) and the min-id member represents the group. One digest-keyed
    shuffle; the text body never rides past the hash."""
    grp = df.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("gid")
    )
    rep = grp.groupBy("gid").agg(F.min("doc").alias("rep"))
    return grp.join(rep, "gid").select("doc", "rep")


def _expand_member_pairs(
    rp: DataFrame,
    members: DataFrame,
    d: DataFrame,
    within_requires_signature: bool = True,
) -> DataFrame:
    """Fan representative near-dup pairs ``rp`` (r1, r2, jaccard) back out
    to member pairs — output-linear: each emitted row is one output pair.

    Cross-group member pairs inherit the rep pair's J (identical texts ⇒
    identical shingle sets ⇒ same J); within-group pairs are identical
    content, J = 1.0 exactly. With ``within_requires_signature`` (the
    text-dedup semantics) they are emitted only for groups whose
    representative produced a signature set (≥ k words, i.e. appears in
    ``d``); pass False to emit them for EVERY group — exact-duplicate
    semantics keyed on the grouping digest alone, so content identity is
    reported even below the signature floor (the audio landmark path
    needs this: byte-identical 1-2-segment streams have no landmarks but
    are still duplicates — ADVICE r8)."""
    ma = members.select(F.col("rep").alias("r1"), F.col("doc").alias("da"))
    mb = members.select(F.col("rep").alias("r2"), F.col("doc").alias("db"))
    cross = (
        rp.join(ma, "r1")
        .join(mb, "r2")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "jaccard",
        )
    )
    if within_requires_signature:
        g_ok = members.join(
            d.select(F.col("doc").alias("rep")).distinct(), "rep"
        ).select("rep", "doc")
    else:
        g_ok = members.select("rep", "doc")
    wa, wb = g_ok.alias("wa"), g_ok.alias("wb")
    within = (
        wa.join(
            wb,
            (F.col("wa.rep") == F.col("wb.rep"))
            & (F.col("wa.doc") < F.col("wb.doc")),
        )
        .select(
            F.col("wa.doc").alias("d1"),
            F.col("wb.doc").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    df_cap: int | str = "auto",
) -> DataFrame:
    """Asymmetric n-gram *containment* dedup: a document is flagged when a
    larger (or equal-sized, smaller-id) document covers ≥ ``threshold`` of
    its shingle set — the RefinedWeb/CCNet-style rule that catches quotes,
    mirrored excerpts, and pages republished inside larger pages, which
    symmetric Jaccard misses (a short doc fully inside a long one has low
    J but containment 1.0). Reference scope analogue: the reference
    pipelines dedup only exactly (stage-store content hash); containment
    is part of this engine's training-data extension surface.

    Semantics: with ``sh(x)`` the distinct hashed k-shingles of ``x``,
    ``C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|``. Eligible containers for ``a``
    are docs ``b`` with ``|sh(b)| > |sh(a)|``, or ``|sh(b)| = |sh(a)|``
    and ``b.id < a.id`` (strict order — no mutual removal, no cycles).
    Emitted: one row per contained doc — its best container by
    ``(C desc, container_id asc)`` — so downstream can drop flagged rows
    and keep an audit pointer.

    Scale shape (mirrors :func:`jaccard_pairs`'s capped path, all three
    layers):

    1. **exact-collapse** — byte-identical texts group on ``md5(text)``;
       only the min-id representative of each group shingles and enters
       candidate generation. Crawled corpora are exact-dup-heavy, and
       without this layer N copies of a page inflate every shared
       shingle's df by N and the candidate join by N² (measured 19.5× at
       the 10× replica probe; 1.3× with the collapse).
    2. **df-cap** over *unique texts* bounds candidate pair work at
       Σ_s min(df,cap)²; verification uses FULL shingle sets
       (one ``array_intersect`` per candidate) so containment values are
       exact.
    3. **canonical-first lift** back to members (output-linear): every
       non-representative member is emitted as contained in its group's
       representative at containment 1.0 exactly (byte-identical text —
       the natural audit pointer); every *representative* covered at the
       text level is emitted with its best covering representative.
       Container eligibility at the text level is (bigger shingle set),
       or (equal size, smaller rep id) — a strict order, so no mutual
       removal and no cycles.
    """
    # NOT persisted (r12 A/B, alternating fresh-process median-of-3:
    # persist 7.73/11.60 s vs un-persisted 5.85/6.12 s on
    # containment_dedup): the md5-group subtree is exchange-bounded, so
    # runtime exchange reuse already dedupes it across the consumers —
    # the persist only added an InMemoryRelation materialization barrier
    members = _text_group_members(df, id_col, text_col)
    reps = members.select(F.col("rep").alias(id_col)).distinct()
    d = _doc_shingles(df.join(reps, id_col), id_col, text_col, k).persist()
    cand = _candidate_pairs(_capped_postings(d, df_cap), "s")
    sa = d.select(F.col("doc").alias("d1"), F.col("sh").alias("sh1"))
    sb = d.select(F.col("doc").alias("d2"), F.col("sh").alias("sh2"))
    v = (
        cand.join(sa, "d1")
        .join(sb, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("sh1", "sh2")).alias("common"),
            F.size("sh1").alias("n1"),
            F.size("sh2").alias("n2"),
        )
    )
    # both directions of each unordered pair, container strictly greater
    # in the (set size, -id) order; d1 < d2 by construction.
    dir1 = v.where(F.col("n1") >= F.col("n2")).select(
        F.col("d2").alias("doc_id"),
        F.col("d1").alias("container_id"),
        (F.col("common") / F.col("n2")).alias("c"),
    )
    dir2 = v.where(F.col("n2") > F.col("n1")).select(
        F.col("d1").alias("doc_id"),
        F.col("d2").alias("container_id"),
        (F.col("common") / F.col("n1")).alias("c"),
    )
    dirs = dir1.unionByName(dir2).where(F.col("c") >= threshold)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("container_id").asc()
    )
    rep_best = (
        dirs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "container_id", F.round("c", 6).alias("containment"))
    )
    # layer 3: lift to members. Non-representative members are contained
    # in their representative at exactly 1.0 (byte-identical text); only
    # groups whose representative shingled (≥ k words) emit.
    shingled = d.select(F.col("doc").alias("rep")).distinct()
    within = (
        members.where(F.col("doc") != F.col("rep"))
        .join(shingled, "rep")
        .select(
            F.col("doc").alias("doc_id"),
            F.col("rep").alias("container_id"),
            F.lit(1.0).alias("containment"),
        )
    )
    return rep_best.unionByName(within)


def shingle_novelty(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-document n-gram novelty against the corpus in id order — the
    incremental-crawl signal "how much of this document is new text":
    ``novelty = |{s ∈ sh(doc) : min_doc(s) = doc}| / |sh(doc)|`` where
    ``min_doc(s)`` is the smallest doc id containing shingle ``s``.
    Recrawls, boilerplate-heavy pages, and syndicated copies score near
    0; genuinely new content scores near 1 — a cheap pre-dedup router
    (docs at novelty ≈ 0 go straight to the near-dup verifier; docs at
    1.0 skip it).

    Scale shape: explode (doc, shingle-hash) pairs (8-byte keys), one
    map-side-combined ``min(doc)`` per shingle, one co-keyed join back,
    one per-doc count aggregate — two shuffles total, both on longs,
    nothing quadratic. In a snapshotted corpus the ``min(doc)`` table is
    the standing index; a new crawl increment joins against it and
    appends only its genuinely-new shingles (same increment shape as
    :func:`incremental_near_dup`).

    Only docs with ≥ k words are scored (no shingles → no denominator).
    """
    d = _doc_shingles(df, id_col, text_col, k)
    inv = d.select("doc", F.explode("sh").alias("s"))
    first = inv.groupBy("s").agg(F.min("doc").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("doc") == F.col("first_doc"), 1).otherwise(0)
    ).cast("long")
    return (
        inv.join(first, "s")
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            F.col("doc").alias("doc_id"),
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6, k: int = 3
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    Stages: signature (map-only) → band explode (docs × N_BANDS rows,
    band key = hash of the band slice) → bucket self-join (candidates) →
    exact Jaccard verify on the candidate set only.

    Output = pairs with true J ≥ threshold among LSH candidates; with the
    default 32×2 banding the miss probability at J ≥ 0.75 is < 1e-9, so on
    any realistic corpus this equals the exact answer while scaling as
    O(docs + candidates).

    Byte-identical texts exact-collapse to a min-id representative before
    signatures (real crawls are exact-dup-heavy; identical docs share
    identical signatures, hence every band bucket, so an m-copy group
    would otherwise pay C(m,2) candidate+verify work *per band*). Rep
    pairs expand back to member pairs output-linearly — provably the
    same pair set as the uncollapsed computation, because identical
    texts collide in all bands (within-group, J = 1.0) and every member
    pair shares its representatives' signatures (cross-group).
    """
    members, d = _representatives(df, id_col, text_col, k, _doc_shingles)
    # Signature via explode + 64 min-aggregates: each shingle is hashed
    # ONCE, and the mins partial-aggregate map-side, so the shuffle
    # carries only 64 longs/doc. sh entries are already xxhash64(gram),
    # so the base hash is just the modular reduction.
    ex = d.select("doc", F.explode("sh").alias("s")).withColumn(
        "h", F.pmod(F.col("s"), F.lit(MERSENNE))
    )
    sig = ex.groupBy("doc").agg(*minhash_mins("h"))
    band_arr = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            )
            for b in range(N_BANDS)
        ]
    )
    # No persist on bands: the r12 fence here (saving one signature-build
    # recompute across the self-join's two sides) was a full-session
    # regression for this operator's heaviest consumer (leakage_safe_split
    # 5.0 s -> 6.3/8.6/18/43 s in all four post-change runs) — the
    # InMemoryRelation barrier serializes the pipeline where exchange
    # reuse already shares the groupBy output. Removed in r13.
    bands = sig.select("doc", F.posexplode(band_arr).alias("band", "bkey"))
    cand = _candidate_pairs(bands, "band", "bkey")
    return _expand_member_pairs(verify_jaccard(cand, d, d, threshold), members, d)


# --- SimHash ---------------------------------------------------------------

N_PLANES = 16  # 16-bit fingerprint: keeps the oracle SQL tractable
PLANE_A = [2 * i * 48271 + 1 for i in range(1, N_PLANES + 1)]
PLANE_B = [i * 16807 + 7 for i in range(1, N_PLANES + 1)]


def _fingerprint_from_votes() -> Column:
    fp = F.lit(0).cast("long")
    for i in range(N_PLANES):
        fp = fp + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return fp


def simhash16(words: Column) -> Column:
    """16-plane SimHash over word codes (map-only column variant).

    Plane ``i`` votes +1 when ``(code * A_i + B_i) mod (2^31-1)`` is odd,
    −1 otherwise; fingerprint bit i is set when the sum is positive. Word
    codes come from :func:`word_codes` so the DuckDB oracle can replicate
    the arithmetic exactly.

    Evaluates 16 higher-order ``aggregate`` folds per row — interpreted,
    not codegen'd — so it is only for short arrays / small frames. The
    table-scale path is :func:`simhash16_agg` (explode → one codegen
    aggregate pass); identical values, integer votes are order-free.
    """
    codes = word_codes(words)

    def plane_vote(i: int):
        a, b = PLANE_A[i], PLANE_B[i]

        def merge(acc, c):
            return acc + F.when(F.pmod(c * a + b, F.lit(MOD)) % 2 == 1, 1).otherwise(-1)

        return F.aggregate(codes, F.lit(0).cast("long"), merge)

    fp = F.lit(0).cast("long")
    for i in range(N_PLANES):
        fp = fp + F.when(plane_vote(i) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return fp


def simhash16_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-plane SimHash, aggregate-shaped: the 100 TB path.

    ``explode(words)`` once, then ONE ``groupBy(id)`` pass computing all 16
    plane votes as conditional sums — whole-stage-codegen'd, with map-side
    partial aggregation, so the shuffle carries 16 ints per document (the
    column variant :func:`simhash16` runs 16 interpreted folds per row
    instead). Votes are integer sums, so aggregation order cannot change
    the result: bit-identical to the fold variant and the DuckDB oracle.

    Returns ``(id_col, simhash)``. Documents whose text splits to an empty
    token list cannot occur (``split`` returns ``['']`` on any string), so
    no rows are lost to the explode.
    """
    words = F.split(F.col(text_col), " ", -1)
    code = (F.ascii(F.substring(F.col("w"), 1, 1)) + F.length(F.col("w"))).cast(
        "long"
    )
    ex = df.select(F.col(id_col), F.explode(words).alias("w")).select(
        id_col, code.alias("code")
    )
    votes = [
        F.sum(
            F.when(
                F.pmod(F.col("code") * PLANE_A[i] + PLANE_B[i], F.lit(MOD)) % 2 == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(N_PLANES)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*votes)
        .select(id_col, _fingerprint_from_votes().alias("simhash"))
    )


def block_dedup_stats(df: DataFrame, id_col: str, text_col: str, size: int = 20) -> DataFrame:
    """Sub-document exact dedup at aligned word-block granularity (the
    C4/CCNet move: drop repeated boilerplate blocks corpus-wide, keep the
    first occurrence) — per-document survival stats plus a fingerprint of
    the deduplicated text.

    A block survives iff it is the lexicographically first occurrence of
    its content across the corpus (min (doc_id, blk_idx)) — deterministic,
    engine-portable, and what "keep one copy" means when the corpus has a
    stable document order.

    Scale shape: one shuffle partitions block rows by the 128-bit content
    digest (the window key is the digest, never the body — the body rides
    along exactly once, which any reassembling dedup must pay); the
    second shuffle regroups survivors by document for reassembly. Both
    keys are fixed-width. A stats-only variant (no reassembly) would drop
    the body after hashing and shuffle digests alone.

    Returns (id, n_blocks, n_kept, kept_fp) where kept_fp = md5 of the
    surviving blocks re-joined in block order ('' when nothing survives).
    """
    from pyspark.sql import Window as W

    from .curation import explode_word_blocks

    b = explode_word_blocks(df, id_col, text_col, size)
    w = W.partitionBy(F.md5(F.col("blk"))).orderBy(id_col, "blk_idx")
    r = b.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("blk_idx"), F.col("blk"))
    )
    return r.groupBy(id_col).agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["blk"]
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


def dup_ngram_coverage(df: DataFrame, id_col: str, text_col: str, n: int = 8) -> DataFrame:
    """Duplicate-text coverage à la Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"): per document, how many
    of its word n-gram positions carry a gram that occurs more than once
    in the corpus — the signal exact-substring dedup cuts on.

    Scale shape: grams explode inside codegen (:func:`..operators
    .curation.explode_ngrams`), are digested to 128 bits immediately, and
    the corpus-wide occurrence count is a single window over the digest —
    one shuffle of (doc_id, digest) pairs, ~40 bytes per position, never
    the gram text. At 100 TB the exact count can be swapped for a
    broadcast CountMin/Bloom side table without changing this query's
    output contract for grams above the threshold.

    Returns (id, n_grams, n_dup_pos, dup_frac) for documents with at
    least one n-gram; dup_frac is the single IEEE division of the two
    exact counts."""
    from pyspark.sql import Window as W

    from .curation import explode_ngrams

    g = explode_ngrams(df, id_col, text_col, n)
    gd = g.select(id_col, F.md5(F.col("gram")).alias("gd"))
    c = F.count("*").over(W.partitionBy("gd"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
    return (
        gd.withColumn("c", c)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            dup.alias("n_dup_pos"),
            (dup.cast("double") / F.count("*")).alias("dup_frac"),
        )
    )


def dup_span_removal(df: DataFrame, id_col: str, text_col: str, n: int = 8) -> DataFrame:
    """Exact-substring-dedup *removal accounting* (the second half of the
    Lee et al. 2021 move): treating every corpus-duplicated word n-gram
    as a span [pos, pos+n), how many of each document's tokens sit inside
    the union of duplicated spans — i.e., what span-removal dedup would
    actually delete.

    The span union is the classic sorted-interval sweep as a window: with
    spans ordered by start, each contributes
    ``max(0, end − max(prev_max_end, start))`` tokens, where
    ``prev_max_end`` is the running max of span ends over preceding rows
    — one window per doc, exact integers, engine-portable.

    Scale shape: same (doc_id, digest, pos) shuffle as
    :func:`dup_ngram_coverage` (~44 bytes per position) plus one per-doc
    window; the sweep state is a single running max. Returns (id,
    n_tokens, n_dup_tokens, keep_frac) for docs with ≥1 n-gram."""
    from pyspark.sql import Window as W

    from .curation import explode_ngrams_pos

    g = explode_ngrams_pos(df, id_col, text_col, n)
    gd = g.select(id_col, "pos", F.md5(F.col("gram")).alias("gd"))
    marked = gd.withColumn("c", F.count("*").over(W.partitionBy("gd"))).where(
        F.col("c") > 1
    )
    wp = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + n).over(wp)
    add = F.greatest(
        F.lit(0),
        (F.col("pos") + n) - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
    )
    removed = marked.withColumn("add", add).groupBy(id_col).agg(
        F.sum("add").alias("n_dup_tokens")
    )
    totals = df.select(
        id_col, F.size(F.split(F.col(text_col), " ", -1)).cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") >= n)
    return (
        totals.join(removed, id_col, "left")
        .withColumn("n_dup_tokens", F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long"))
        .withColumn(
            "keep_frac",
            (F.col("n_tokens") - F.col("n_dup_tokens")).cast("double") / F.col("n_tokens"),
        )
    )


def incremental_near_dup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k: int = 3,
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus — the daily
    operational shape: the index is orders of magnitude larger than the
    increment, and rebuilding all-pairs over (index ∪ new) would redo
    yesterday's work.

    Per new document: whether its exact digest already exists in the
    index, and its best near-dup index match (max Jaccard, ties to the
    smallest index id — a total order). Candidate generation is the
    inverted-index join NEW⋈INDEX on shingles — cost Σ_s df_new(s) ·
    df_idx(s), proportional to the increment, never index²; at full
    scale the index side of the join is the persisted posting list a
    production system maintains between batches.

    Returns (id, exact_dup, best_match_id, best_jaccard) — nulls when no
    near-dup clears the threshold."""
    from pyspark.sql import Window as W

    # each side feeds both its posting list and its size frame — persist
    # so the shingling (the compute-heavy stage) runs once per side
    new_d = _doc_shingles(new_df, id_col, text_col, k).persist()
    idx_d = _doc_shingles(index_df, id_col, text_col, k).persist()
    inv_new = new_d.select(F.col("doc").alias("nd"), F.explode("sh").alias("s"))
    inv_idx = idx_d.select(F.col("doc").alias("xd"), F.explode("sh").alias("s"))
    common = (
        inv_new.join(inv_idx, "s")
        .groupBy("nd", "xd")
        .agg(F.count("*").alias("common"))
    )
    sn = new_d.select(F.col("doc").alias("nd"), F.size("sh").alias("n_new"))
    sx = idx_d.select(F.col("doc").alias("xd"), F.size("sh").alias("n_idx"))
    j = F.col("common") / (F.col("n_new") + F.col("n_idx") - F.col("common"))
    # filter on the UNROUNDED value, round only for output — the same
    # order as jaccard_pairs and the oracle; filtering post-round would
    # admit pairs in [t − 5e-7, t) that the oracle excludes
    scored = (
        common.join(sn, "nd")
        .join(sx, "xd")
        .withColumn("__j", j)
        .where(F.col("__j") >= threshold)
        .withColumn("jaccard", F.round("__j", 6))
        .drop("__j")
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("nd").orderBy(F.desc("jaccard"), F.asc("xd"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("nd").alias(id_col),
            F.col("xd").alias("best_match_id"),
            "jaccard",
        )
    )
    idx_digests = index_df.select(F.md5(F.col(text_col)).alias("dg")).distinct()
    out = (
        new_df.select(id_col, F.md5(F.col(text_col)).alias("dg"))
        .join(idx_digests.withColumn("hit", F.lit(True)), "dg", "left")
        .select(id_col, F.coalesce(F.col("hit"), F.lit(False)).alias("exact_dup"))
    )
    return (
        out.join(best, id_col, "left")
        .select(
            id_col,
            "exact_dup",
            F.col("best_match_id").cast("long").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )


def allpairs_prefix_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6, k: int = 3
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the AllPairs /
    SSJoin algorithm — Bayardo, Ma & Srikant, WWW'07; Chaudhuri, Ganti &
    Kaushik, ICDE'06): the third candidate-generation strategy beside
    the hot-shingle df-cap (``jaccard_pairs``, which *drops* pathological
    shingles — documented approximation) and MinHash banding
    (``minhash_lsh_pairs`` — probabilistic miss bound). Prefix filtering
    is EXACT with a completeness proof:

        order every document's shingles by one global canonical order
        (rarest-first); for Jaccard >= t a document only needs its first
        ``n - ceil(t*n) + 1`` shingles indexed — two documents with
        J >= t MUST share a token inside both prefixes, else their
        overlap fits entirely in the suffixes, which are too short:
        |x∩y| >= t*|x∪y| >= ceil(t*n) for both sets, but a disjoint-
        prefix pair can share at most ceil(t*n)-1 suffix tokens.

    So the candidate set provably contains every qualifying pair, while
    indexing only the ~(1-t) rarest fraction of each document — the
    rare-first order pushes high-frequency shingles out of prefixes,
    which is the built-in hot-token mitigation (df-cap exactness loss
    traded for a frequency join + per-doc rank window).

    Stages: exact-collapse (identical texts never reach candidate
    generation — same rationale as minhash) → shingle document-frequency
    count (the canonical order) → per-doc rarest-first rank window →
    prefix index (rank <= L) → prefix self-join → exact-Jaccard verify
    on full shingle sets → member expansion. With threshold 0.6 the
    prefix bound is integer-exact on both engines:
    L = n - (3n + 4) div 5 + 1 (ceil(3n/5) spelled wrap-free).

    Scale: candidates are bounded by sum over shingles of C(df_prefix, 2)
    where df_prefix counts only PREFIX occurrences — on heavy-tailed
    shingle distributions the rare-first order makes prefix df tiny for
    exactly the shingles whose global df is huge. Costs one extra
    aggregate (df) + one doc-keyed window vs the df-cap path; wins
    whenever exactness matters (contracts, decontamination audits).

    Persist contract: :func:`_representatives`'s.
    """
    members, d = _representatives(df, id_col, text_col, k, _doc_shingles)
    return _expand_member_pairs(allpairs_prefix_join(d, threshold), members, d)


def weighted_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.6, k: int = 3
) -> DataFrame:
    """Exact WEIGHTED (multiset) Jaccard similarity join:
    J_w = sum_t min(a_t, b_t) / sum_t max(a_t, b_t) over k-gram
    multiplicities — the similarity that stays honest on repetitive
    text, where set-Jaccard saturates (a doc that is one phrase repeated
    400x has the same shingle SET as the phrase itself: set-J = 1.0,
    J_w = #distinct/#total). The multiset domain is the weighted-minhash
    literature's (Chum, Philbin & Zisserman, BMVC'08; Ioffe, ICDM'10) —
    but where they sample, this is EXACT, by the classic reduction:

        MULTIPLICITY EXPANSION — a gram with count c becomes c distinct
        elements (gram, 1), .., (gram, c). For expanded sets,
        |A^ ∩ B^| = sum_t min(a_t, b_t) and |A^ ∪ B^| = sum_t max —
        so set-Jaccard of the expansions IS weighted Jaccard, and the
        certified prefix-filtering kernel (:func:`allpairs_prefix_join`,
        completeness a theorem, not a sampling bound) applies verbatim.

    Same stage contract as :func:`allpairs_prefix_pairs`: exact-collapse
    to representatives, expanded-signature build (one doc-keyed window +
    one (doc, gram) count — the expansion is output-sized: total
    elements = total grams, not distinct-grams x max-count), prefix
    join, exact verify on full expanded sets, member fan-out (persist
    contract identical: :func:`_representatives`'s).

    Scale: expanded-element df is SPLIT by occurrence index — (gram, 1),
    (gram, 2), .. have strictly decreasing df — so rarest-first prefixes
    naturally index the HIGH-multiplicity tail copies first: exactly the
    elements that discriminate repetitive near-dups. Reference scope
    analogue: none (storages.go dedups byte digests only).
    """
    members, d = _representatives(df, id_col, text_col, k, _doc_weighted_shingles)
    return _expand_member_pairs(allpairs_prefix_join(d, threshold), members, d)


def _doc_weighted_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc, sh: array<bigint>) — the multiplicity-EXPANDED k-gram
    signature: a gram with count c contributes c elements hashed as
    (gram, 1), .., (gram, c), so downstream set operations compute
    multiset semantics exactly. Shared by the batch weighted join and
    the streaming prefix-index face so the two cannot fork on what an
    expanded element is. Output-sized: total elements = total grams.

    Grams come from :func:`doc_gram_hashes`; the (doc, gram-hash) count
    and both downstream doc-keyed aggregates reuse its hash(doc)
    partitioning. The expanded element is the hash of (gram-hash,
    occurrence index), same collision class as hashing the pair
    directly."""
    counted = (
        doc_gram_hashes(df, id_col, text_col, k)
        .groupBy("doc", "h")
        .agg(F.count("*").alias("c"))
    )
    ex = counted.select(
        "doc", "h", F.explode(F.sequence(F.lit(1), F.col("c"))).alias("occ")
    )
    return (
        ex.select("doc", F.xxhash64("h", "occ").alias("h"))
        .groupBy("doc")
        .agg(F.sort_array(F.collect_set("h")).alias("sh"))
        .where(F.size("sh") > 0)
    )


def prefix_limit(threshold: float, n):
    """Column: the prefix length the AllPairs theorem needs for a set of
    size ``n`` at Jaccard ``threshold`` — ``n - ceil(t*n) + 1``. Derives
    ceil(t*n) from the ACTUAL threshold as exact integer arithmetic via a
    rational t = t_num/t_den (review fix: an earlier cut hardcoded 3/5,
    silently under-indexing prefixes — losing completeness — for any
    threshold < 0.6 passed through the public parameter). ``exact_floordiv``
    keeps ceil(t*n) integer-exact even when t_den ~ 1e4 pushes t_num*n
    toward 2^53 (a double-divide F.floor would round the bound there,
    silently shortening prefixes and losing completeness). Shared by the
    batch kernel (:func:`allpairs_prefix_join`) and the streaming probe
    (``streaming/prefix_index.py``) so the bound can never fork."""
    frac = Fraction(threshold).limit_denominator(10_000)
    t_num, t_den = frac.numerator, frac.denominator
    if not 0 < threshold <= 1 or abs(t_num / t_den - threshold) > 1e-12:
        raise ValueError(f"threshold {threshold} not a small rational in (0,1]")
    n = F.col(n) if isinstance(n, str) else n
    return (
        n
        - exact_floordiv(F.lit(t_num).cast("long") * n + F.lit(t_den - 1), t_den)
        + 1
    )


def allpairs_prefix_join(d: DataFrame, threshold: float) -> DataFrame:
    """The prefix-filtering core of :func:`allpairs_prefix_pairs`, over a
    precomputed ``(doc, sh: array<bigint>)`` frame of REPRESENTATIVE
    documents (exact-collapse and member fan-out are the caller's job —
    this lets non-text signature sets reuse the exact kernel, e.g. the
    audio constellation fingerprints of ``audio_fingerprint_dedup``).
    Returns (r1, r2, jaccard) with J >= threshold, exact."""
    ex = d.select("doc", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "s")
    lim = prefix_limit(threshold, "n")
    prefix = (
        ex.join(dfreq, "s")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= lim)
        .select("doc", "s")
        # persist: both sides of the candidate self-join consume the
        # prefix — without the cut the df join + rarest-first window
        # run twice (r12 recompute audit; prefix-bounded rows, ≤ the
        # exploded signature size)
        .persist()
    )
    return verify_jaccard(_candidate_pairs(prefix, "s"), d, d, threshold)
