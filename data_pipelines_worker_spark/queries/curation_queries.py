"""Correctness queries for the corpus-curation operator family
(:mod:`..operators.curation`): PII redaction, repetition profiling,
benchmark decontamination, sequence packing, context-window chunking, and
length bucketing.

Oracle discipline (the window_functions lesson): every emitted column is
either an exact integer, a string, or a *single* IEEE division of two
exact integers — no rounded floats, no NULLs, no engine-local math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.intmath import exact_floordiv, md5_fold60
from ..operators import curation as cu
from ..operators import merkle as mk
from ..operators import selection as sel
from ..operators import text_analysis as ta
from ..session import load_table
from . import register


# --- PII redaction ----------------------------------------------------------
#
# The synthetic corpus contains no PII, so the query *derives* it
# deterministically from document fields (source + doc_id → an email, a
# phone, an IP, with per-doc-varying extras) and then detects/redacts with
# the production regexes. The construction is identical SQL on both sides;
# what is under test is the detector/redactor.

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact ' || source || CAST(doc_id AS VARCHAR)
              || '@mail.example.com call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 100 AS VARCHAR)
              || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END
              || CASE WHEN doc_id % 2 = 0
                      THEN ' alt 555-0000-9999' ELSE ' alt none' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{cu.PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{cu.PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{cu.PII_IPV4}')) AS BIGINT)  AS n_ip,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{cu.PII_EMAIL}', '<EMAIL>', 'g'),
           '{cu.PII_PHONE}', '<PHONE>', 'g'),
         '{cu.PII_IPV4}', '<IP>', 'g') AS redacted
FROM aug
"""


@register("pii_redact", _PII_ORACLE)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + typed-placeholder redaction over the documents
    table. Pure regexp column expressions — zero shuffle, codegen'd; at
    100 TB this is a scan-bound map stage, the cheapest possible shape for
    a compliance pass that must touch every byte."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        d.cast("string"),
        F.lit("@mail.example.com call 555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit(".0."),
        (d % 100).cast("string"),
        F.when(d % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit(" alt 555-0000-9999")).otherwise(F.lit(" alt none")),
    )
    counts = cu.pii_counts(aug)
    return docs.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ip"].alias("n_ip"),
        cu.pii_redact(aug).alias("redacted"),
    )


# --- repetition / diversity profiling --------------------------------------

_REP_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) >= 2
              THEN list_transform(generate_series(1, len(ws) - 1),
                                  i -> ws[i] || ' ' || ws[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS g2
  FROM t
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
       CAST(list_max(list_transform(list_distinct(ws),
                                    w -> len(list_filter(ws, x -> x = w))))
            AS BIGINT) AS top_word_n,
       CAST(len(g2) AS BIGINT) AS n_2grams,
       CAST(len(list_distinct(g2)) AS BIGINT) AS n_distinct_2grams,
       CAST(CASE WHEN len(g2) > 0
                 THEN list_max(list_transform(list_distinct(g2),
                                              w -> len(list_filter(g2, x -> x = w))))
                 ELSE 0 END AS BIGINT) AS top_2gram_n
FROM g
"""


@register("repetition_signals", _REP_ORACLE)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/diversity signals as exact integers (the
    filter thresholds — type-token ratio, top-2-gram fraction — are
    downstream divisions of these). Explode + codegen hash aggregation
    (:func:`..operators.curation.repetition_stats`) rather than per-row
    array lambdas: Spark higher-order functions evaluate interpreted, and
    the measured gap on this profile is ~15× (see operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.repetition_stats(docs)


# --- benchmark decontamination ---------------------------------------------
#
# Real pipelines use 8–13-gram overlap against held-out benchmarks; the
# synthetic corpus has a ~40-word vocabulary, so 3-grams give the same
# collision statistics the long n-grams give on real text. The benchmark
# "set" is the deterministic doc_id % 41 == 0 slice.

_DECON_N = 3
_DECON_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM t
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id % 41 <> 0
GROUP BY g.doc_id
"""


@register("decontaminate_ngram", _DECON_ORACLE)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination: per training document, the number
    of distinct word 3-grams it shares with the benchmark slice.

    Scale shape: the benchmark n-gram set is tiny relative to the corpus
    (eval suites are MBs, crawls are TBs) — it is explicitly broadcast, so
    the corpus side streams through a map-side hash join with no shuffle of
    the big side; per-doc ``array_distinct`` bounds the join input at one
    row per distinct gram."""
    docs = load_table(spark, sf_dir, "documents")
    grams = cu.explode_ngrams(docs, "doc_id", "text", _DECON_N).dropDuplicates(
        ["doc_id", "gram"]
    )
    bench = grams.where(F.col("doc_id") % 41 == 0).select("gram").distinct()
    return (
        grams.where(F.col("doc_id") % 41 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_grams"))
    )


# --- sequence packing -------------------------------------------------------

_PACK_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT source,
       CAST(floor(cum_before / {cu.PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY source, pack_id
"""


@register("sequence_packing", _PACK_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: per source stream, documents are
    concatenated in doc_id order and the stream is cut every PACK_BUDGET
    tokens; a document joins the pack its first token lands in. One window
    per (source) partition + one small aggregation — the window key is the
    stream id, so at 100 TB the state per task is one running counter and
    no stream ever needs to fit in memory (contrast greedy bin-packing,
    which is inherently sequential per bin)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", ta.token_count_regex(F.col("text")).alias("n_tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        toks.withColumn("pack_id", cu.pack_id(cum_before))
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- context-window chunking ------------------------------------------------

_CHUNK_ORACLE = f"""
SELECT doc_id,
       s // {cu.CHUNK_STRIDE} AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(length(substr(text, s + 1, {cu.CHUNK_SIZE})) AS BIGINT) AS chunk_len,
       md5(substr(text, s + 1, {cu.CHUNK_SIZE})) AS chunk_fp
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) - 1, {cu.CHUNK_STRIDE})) AS s
  FROM documents
)
"""


@register("doc_chunking", _CHUNK_ORACLE)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (size {200}, stride {150}) — the
    1→N document→training-window fan-out. ``sequence`` + ``posexplode``
    stay inside codegen; chunk content is fingerprinted (md5) so the oracle
    checks bytes without hauling chunk text through the hash gate."""
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        "text",
        F.explode(cu.chunk_starts(F.col("text"))).alias("s"),
    )
    chunk = cu.chunk_at(F.col("text"), F.col("s"))
    return exploded.select(
        "doc_id",
        F.floor(F.col("s") / cu.CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_fp"),
    )


# --- token-length bucketing -------------------------------------------------

_LENHIST_ORACLE = """
SELECT (CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) // 16) * 16
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT)
         AS sum_tokens
FROM documents
GROUP BY bucket
"""


@register("length_histogram", _LENHIST_ORACLE)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in 16-token buckets — the profile a batching/
    packing stage reads to pick sequence budgets. Map-side partial agg on a
    derived integer key; one tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = ta.token_count_regex(F.col("text"))
    return (
        docs.select((F.floor(n_tok / 16) * 16).cast("long").alias("bucket"), n_tok.alias("n"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("sum_tokens"))
    )


# --- data-mixture sampling --------------------------------------------------

_MIX_ORACLE = """
SELECT source,
       CAST(max(10 + (COALESCE(TRY_CAST(substr(source, 4) AS BIGINT), 0) % 3)
                * 20) AS BIGINT) AS rate_pct,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100
                          < 10 + (COALESCE(TRY_CAST(substr(source, 4)
                                                    AS BIGINT), 0) % 3) * 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents
GROUP BY source
"""


@register("mixture_sample", _MIX_ORACLE)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mixture sampling: each source gets its own
    deterministic keep rate (derived here from the source id: 10/30/50 %),
    rows kept by the Knuth multiplicative hash of doc_id against the rate
    threshold — the reproducible weighted-mixture draw a training-data
    pipeline uses to rebalance sources. Same subset on every engine/run
    (no rand()); cost is one codegen'd scan + a source-keyed partial agg.
    In production the rate map is a broadcast dimension; deriving it from
    the source id keeps the oracle self-contained."""
    docs = load_table(spark, sf_dir, "documents")
    # try_cast: a non-srcN source name (malformed feed id) maps to rate
    # bucket 0 instead of an ANSI cast error — identically on both engines
    # full suffix on both engines (a length cap here but not in the oracle
    # would bucket 11+-digit feed ids differently); try_cast: malformed or
    # >int64 suffixes map to rate bucket 0 identically on both engines
    src_n = F.coalesce(
        F.expr("try_cast(substr(source, 4) AS BIGINT)"), F.lit(0)
    )
    rate = F.lit(10) + (src_n % 3) * 20
    keep = (
        F.pmod(F.pmod(F.pmod(F.col("doc_id"), F.lit(1 << 31)) * F.lit(2654435761), F.lit(1 << 32)), F.lit(100))
        < rate
    )
    return docs.groupBy("source").agg(
        F.max(rate).cast("long").alias("rate_pct"),
        F.count("*").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
    )


# --- n-gram LM familiarity scoring -----------------------------------------

_LM_ORACLE = """
WITH g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 2
                     THEN list_transform(generate_series(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(c) AS BIGINT) AS familiarity
FROM g JOIN cnt USING (gram)
GROUP BY doc_id
"""


@register("lm_bigram_score", _LM_ORACLE)
def q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style corpus-familiarity scoring with an n-gram LM built from
    the corpus itself in the same plan: corpus-wide bigram counts (the
    "language model") joined back to each document's bigrams; familiarity
    = Σ corpus-count over the document's bigrams, kept as exact integers
    (a real pipeline takes log-probs; integer counts keep the oracle
    hash-stable while exercising the identical two-pass shape).

    Scale shape: both passes explode the same codegen n-gram stream; the
    count side aggregates map-side to vocabulary size before the join, so
    the join's build side is the LM table, not the corpus — at 100 TB the
    LM is billions of short keys (shuffle hash join territory), while the
    probe side streams."""
    docs = load_table(spark, sf_dir, "documents")
    grams = cu.explode_ngrams(docs, "doc_id", "text", 2)
    counts = grams.groupBy("gram").agg(F.count("*").alias("c"))
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("c").alias("familiarity"))
    )


# --- greedy (first-fit reset) sequence packing -----------------------------

_GREEDY_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
g AS (
  SELECT source, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS run
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN g.run > 0 AND g.run + t.n_tokens > {cu.PACK_BUDGET}
              THEN g.pack_id + 1 ELSE g.pack_id END,
         CASE WHEN g.run > 0 AND g.run + t.n_tokens > {cu.PACK_BUDGET}
              THEN t.n_tokens ELSE g.run + t.n_tokens END
  FROM g JOIN t ON t.source = g.source AND t.rn = g.rn + 1
)
SELECT source, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM g
GROUP BY source, pack_id
"""


@register("sequence_packing_greedy", _GREEDY_ORACLE)
def q_sequence_packing_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy whole-document packing
    (:func:`..operators.curation.sequence_packing_greedy`): first-fit with
    reset, so no document ever splits across packs — inherently sequential
    per stream, hence one applyInPandas group per stream (parallel across
    the corpus's streams, the real unit of scale). The DuckDB oracle walks
    the identical recursion as a recursive CTE, pinning the reset
    semantics exactly."""
    docs = load_table(spark, sf_dir, "documents")
    packed = cu.sequence_packing_greedy(docs)
    return (
        packed.groupBy(F.col("stream").alias("source"), "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- pack manifests: the materialized training sequences --------------------

_MANIFEST_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id, text,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
g AS (
  SELECT source, doc_id, text, n_tokens, rn,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS run
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.text, t.n_tokens, t.rn,
         CASE WHEN g.run > 0 AND g.run + t.n_tokens > {cu.PACK_BUDGET}
              THEN g.pack_id + 1 ELSE g.pack_id END,
         CASE WHEN g.run > 0 AND g.run + t.n_tokens > {cu.PACK_BUDGET}
              THEN t.n_tokens ELSE g.run + t.n_tokens END
  FROM g JOIN t ON t.source = g.source AND t.rn = g.rn + 1
)
SELECT source, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(length(string_agg(text, chr(30) ORDER BY doc_id)) AS BIGINT)
         AS seq_chars,
       md5(string_agg(text, chr(30) ORDER BY doc_id)) AS seq_md5
FROM g
GROUP BY source, pack_id
"""


@register("pack_manifest", _MANIFEST_ORACLE)
def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training sequences: greedy whole-document packs joined
    back to their text, concatenated in doc order with a record separator
    (0x1e), fingerprinted — the artifact a trainer's data loader actually
    reads, so its bytes are what the oracle should pin. Ordered gather =
    sort_array(collect_list(struct(doc_id, text))): the packing family's
    analog of the join_videos ordered-gather discipline."""
    docs = load_table(spark, sf_dir, "documents")
    packed = cu.sequence_packing_greedy(docs)
    joined = packed.join(docs.select("doc_id", "text"), "doc_id")
    gathered = joined.groupBy(F.col("stream").alias("source"), "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sort_array(F.collect_list(F.struct("doc_id", "text"))).alias("parts"),
    )
    seq = F.concat_ws("\x1e", F.transform(F.col("parts"), lambda s: s["text"]))
    return gathered.select(
        "source",
        "pack_id",
        "n_docs",
        "n_tokens",
        F.length(seq).cast("long").alias("seq_chars"),
        F.md5(seq).alias("seq_md5"),
    )


# --- the end-to-end clean-corpus manifest ----------------------------------


def _final_manifest_oracle() -> str:
    all_sw = "[" + ", ".join(
        f"'{w}'" for ws in ta.LANG_STOPWORDS.values() for w in ws
    ) + "]"
    return f"""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
q AS (
  SELECT doc_id, source,
         CASE WHEN length(text) = 0 THEN 0.0 ELSE round(
           0.4 * (1.0 - least(abs((length(text) - (len(string_split(text, ' ')) - 1))
                                  / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0) / 5.0, 1.0))
         + 0.3 * least(len(list_filter(string_split(text, ' '),
                                       w -> list_contains({all_sw}, w)))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0)
         + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  / CAST(length(text) AS DOUBLE)), 6) END AS quality,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
gr AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(1, len(ws) - 2),
                       i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM t
),
bench AS (SELECT DISTINCT gram FROM gr WHERE doc_id % 41 = 0),
contaminated AS (
  SELECT DISTINCT gr.doc_id FROM gr JOIN bench USING (gram)
  WHERE gr.doc_id % 41 <> 0
)
SELECT q.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens
FROM q
JOIN keep k ON k.doc_id = q.doc_id
LEFT JOIN contaminated c ON c.doc_id = q.doc_id
WHERE q.quality >= 0.45 AND q.doc_id % 41 <> 0 AND c.doc_id IS NULL
GROUP BY q.source
"""


@register("corpus_final_manifest", _final_manifest_oracle())
def q_corpus_final_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline's OUTPUT contract, per source: exact
    dedup (canonical min-id) → quality gate → benchmark-slice exclusion →
    n-gram decontamination, rolled up to (n_docs, n_tokens) — the
    manifest a training run is provisioned from. One composition, four
    operators, still only: one content-keyed window shuffle (dedup), one
    broadcast gram join (decontamination), one source-keyed rollup."""
    from ..operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "doc_id", "text").where(~F.col("is_duplicate"))
    # Both the benchmark-gram side and the contamination side consume this
    # exploded+deduped gram set; without the persist each branch re-derives
    # the full explode shuffle (7.3x at the 10x probe, VERDICT r4 #5).
    grams = (
        cu.explode_ngrams(docs, "doc_id", "text", _DECON_N)
        .dropDuplicates(["doc_id", "gram"])
        .persist()
    )
    bench_grams = grams.where(F.col("doc_id") % 41 == 0).select("gram").distinct()
    contaminated = (
        grams.where(F.col("doc_id") % 41 != 0)
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    return (
        kept.where(F.round(ta.quality_score(F.col("text")), 6) >= 0.45)
        .where(F.col("doc_id") % 41 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ta.token_count_regex(F.col("text"))).alias("n_tokens"),
        )
    )


# --- CCNet-style LM-score bucketing (round 4) ------------------------------

_PPL_BUCKET_ORACLE = """
WITH g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 2
                     THEN list_transform(generate_series(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i + 1])
                     ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
score AS (
  SELECT doc_id,
         count(*) AS n_bigrams,
         sum(c) AS familiarity
  FROM g JOIN cnt USING (gram)
  GROUP BY doc_id
),
s2 AS (
  SELECT d.source, s.doc_id, s.n_bigrams, s.familiarity,
         ntile(3) OVER (
           PARTITION BY d.source
           ORDER BY CAST(s.familiarity AS DOUBLE) / s.n_bigrams DESC, s.doc_id
         ) AS bucket
  FROM score s JOIN documents d USING (doc_id)
)
SELECT source, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(familiarity) AS BIGINT) AS sum_familiarity,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
FROM s2 GROUP BY source, bucket
"""


@register("ppl_bucket_mixture", _PPL_BUCKET_ORACLE)
def q_ppl_bucket_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: documents ranked per source by their
    LM familiarity rate (the lm_bigram_score signal per bigram — the
    integer-exact stand-in for perplexity) and split into head/middle/tail
    thirds with ntile(3); output is the per-(source, bucket) mixture table
    a pipeline uses to oversample the head. The rank order is the single
    IEEE division familiarity/n_bigrams with doc_id tie-break, so the
    ntile cut is deterministic on any engine.

    Scale shape: the LM build+score reuses lm_bigram_score's two-pass
    explode (map-side-combined count join); the source attachment is one
    co-keyed equi join on doc_id; the ntile window shuffles (doc_id,
    2 ints) per source — bytes-scale rows, never text."""
    docs = load_table(spark, sf_dir, "documents")
    grams = cu.explode_ngrams(docs, "doc_id", "text", 2)
    counts = grams.groupBy("gram").agg(F.count("*").alias("c"))
    score = (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("c").alias("familiarity"))
    )
    s2 = score.join(docs.select("doc_id", "source"), "doc_id")
    w = W.partitionBy("source").orderBy(
        (F.col("familiarity").cast("double") / F.col("n_bigrams")).desc(),
        F.asc("doc_id"),
    )
    return (
        s2.withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("familiarity").alias("sum_familiarity"),
            F.sum("n_bigrams").alias("sum_bigrams"),
        )
    )


# --- curriculum ordering manifest -------------------------------------------


def _curriculum_oracle() -> str:
    from .text_queries import _quality_oracle

    return f"""
WITH q AS ({_quality_oracle()}),
t AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
               AS n_tokens
      FROM documents),
r AS (
  SELECT q.doc_id, quality, n_tokens,
         ntile(3) OVER (ORDER BY quality DESC, q.doc_id) AS phase
  FROM q JOIN t USING (doc_id)
  WHERE quality >= 0.45
)
SELECT CAST(phase AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       min(quality) AS min_q,
       max(quality) AS max_q
FROM r GROUP BY phase
"""


@register("curriculum_manifest", _curriculum_oracle())
def q_curriculum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering manifest: quality-gated documents ranked by
    quality (doc-id tie-break) and cut into three curriculum phases with
    ntile — the high-quality-first schedule a staged training run
    consumes; output is the per-phase manifest (doc count, token budget,
    quality bounds). Quality is the round-6 engine-exact score, so the
    rank order and the ntile cut are deterministic on any engine.

    Scale note: ntile over a global order is fine here because the
    *output* contract is three phase rows; at 100 TB the rank itself
    would go through quantile cutpoints (approx or the binned-histogram
    operator) instead of a global sort — the same caveat documented on
    ppl_bucket_mixture, whose deterministic ntile shape this reuses.
    """
    from ..operators import text_analysis as ta
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.round(ta.quality_score(F.col("text")), 6).alias("quality"),
        ta.token_count_regex(F.col("text")).alias("n_tokens"),
    ).filter(F.col("quality") >= 0.45)
    w = Window.orderBy(F.col("quality").desc(), "doc_id")
    r = feats.select(
        "doc_id", "quality", "n_tokens", F.ntile(3).over(w).alias("phase")
    )
    return r.groupBy("phase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
    ).select(F.col("phase").cast("long"), "n_docs", "sum_tokens", "min_q", "max_q")


# --- MinHash fuzzy decontamination (round 6) ---------------------------------


def _decon_mh_oracle() -> str:
    from ..operators.dedup import PERM_A, PERM_B

    mins = ", ".join(
        f"min((code * {PERM_A[i]} + {PERM_B[i]}) % {ta.MOD}) AS m{i}"
        for i in range(64)
    )
    matches = " + ".join(
        f"CASE WHEN c.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(64)
    )
    return f"""
WITH codes AS (
  SELECT DISTINCT doc_id,
         CAST(ascii(w[1]) + length(w) AS BIGINT) AS code
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
sig AS (SELECT doc_id, {mins} FROM codes GROUP BY doc_id),
bench AS (SELECT * FROM sig WHERE doc_id % 97 = 0
          ORDER BY doc_id LIMIT 64),
corpus AS (SELECT * FROM sig WHERE doc_id % 97 <> 0)
SELECT c.doc_id,
       CAST(coalesce(max({matches}), 0) AS BIGINT) AS max_match_perms,
       CAST(CASE WHEN coalesce(max({matches}), 0) >= 32 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated
FROM corpus c LEFT JOIN bench b ON true
GROUP BY c.doc_id
"""


@register("decontaminate_minhash", _decon_mh_oracle())
def q_decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: flag corpus documents whose
    MinHash-estimated Jaccard against ANY benchmark document is >= 0.5
    (32 of 64 agreeing permutation minima) — the near-duplicate
    complement of ``decontaminate_ngram``'s exact-gram containment test
    (GPT-3/PaLM-style fuzzy decontamination).

    Scale shape: the benchmark suite is *fixed-size by construction*
    (an eval set, not a corpus) — modeled here as the 64 lowest
    qualifying doc ids, so its signatures broadcast and the corpus makes
    one pass: corpus x 64 signature comparisons, linear in the corpus at
    any scale (the un-capped form measured 10.7x at the 10x probe
    because the synthetic benchmark grew with the corpus — exactly the
    quadratic a real decontamination run never pays). Signatures are the same
    affine-mod-Mersenne family as the dedup operators
    (operators/dedup.py:35), 64 longs per doc on the wire, map-side
    combined. The deliberate BroadcastNestedLoopJoin here is the right
    plan: the inner side is the broadcast-sized benchmark, and a band
    pre-filter would break the exact ">= 32 of 64" contract the oracle
    pins (32 agreements need not concentrate 8 in one band).
    """
    from ..operators.dedup import minhash_mins

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(F.split("text", " ", -1)).alias("w"))
    code = (F.ascii(F.substring("w", 1, 1)) + F.length("w")).cast("long")
    codes = w.select("doc_id", code.alias("code")).distinct()
    # persist: the benchmark slice and the corpus slice both read sig —
    # without the cut the explode + distinct + 64-min aggregate (a full
    # corpus pass) runs twice (r12 recompute audit)
    sig = codes.groupBy("doc_id").agg(*minhash_mins("code")).persist()
    bench = (
        sig.filter(F.col("doc_id") % 97 == 0)
        .orderBy("doc_id")
        .limit(64)
        .select(
            F.col("doc_id").alias("b_id"),
            *[F.col(f"m{i}").alias(f"b{i}") for i in range(64)],
        )
    )
    corpus = sig.filter(F.col("doc_id") % 97 != 0)
    match = sum(
        (F.when(F.col(f"m{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(64)),
        F.lit(0),
    )
    scored = corpus.join(F.broadcast(bench), F.lit(True), "left").select(
        "doc_id", match.alias("mp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.coalesce(F.max("mp"), F.lit(0)).cast("long").alias("max_match_perms"))
        .withColumn(
            "contaminated", (F.col("max_match_perms") >= 32).cast("long")
        )
    )


# --- nucleus (top-p) selection by quality ----------------------------------

def _top_p_oracle() -> str:
    all_sw = "[" + ", ".join(
        f"'{w}'" for ws in ta.LANG_STOPWORDS.values() for w in ws
    ) + "]"
    return f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CASE WHEN length(text) = 0 THEN 0.0 ELSE
           0.4 * (1.0 - least(abs((CAST(length(text) AS DOUBLE)
                     - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0) / 5.0, 1.0))
         + 0.3 * least(CAST(len(list_filter(string_split(text, ' '),
                          w -> list_contains({all_sw}, w))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) * 4.0, 1.0)
         + 0.3 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE))
         END AS q
  FROM documents
),
ranked AS (
  SELECT source, doc_id, n_tokens, q,
         row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rank,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens,
         sum(n_tokens) OVER (PARTITION BY source) AS total_tokens
  FROM scored
)
SELECT source, doc_id, CAST(rank AS BIGINT) AS rank, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens, round(q, 6) AS quality
FROM ranked
WHERE 2 * cum_tokens <= total_tokens OR rank = 1
"""


@register("top_p_selection", _top_p_oracle())
def q_top_p_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style data selection: per source, keep the highest-quality
    documents until half the source's token mass is selected (the data-
    mixing move "top-p of each domain by quality" — a budgeted
    alternative to hard score thresholds, robust to per-source score
    scale differences). Ordering key is the unrounded quality score
    (:func:`..operators.text_analysis.quality_score`, hash-green on both
    engines) with doc_id tie-break; the budget test is pure-integer
    (``2·cum ≤ total``), and the source's top-1 doc is always kept so no
    source empties.

    Scale shape: one scan computes tokens + score as a map stage; one
    source-keyed exchange feeds BOTH windows (rank/cumsum and the
    per-source total — same partition key, Catalyst reuses the sort); no
    join, no second scan. At 1000 sources × TB each, the per-source
    window is the natural parallel unit; a skewed mega-source bounds a
    single task only in the sort, which AQE splits.

    The scoring map and budget rule live in ``operators/selection.py``
    (shared verbatim with the streaming manifest maintainer
    ``streaming/selection.py``)."""
    from ..operators.selection import score_docs, top_p_select

    docs = load_table(spark, sf_dir, "documents")
    return top_p_select(score_docs(docs))


# --- per-source length-quantile filter (round 6) -----------------------------

_LEN_QUANTILE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
),
bounds AS (
  SELECT source,
         min(CASE WHEN rk = CAST(ceil(n * 0.05) AS BIGINT)
                  THEN n_chars END) AS lo_chars,
         min(CASE WHEN rk = CAST(ceil(n * 0.95) AS BIGINT)
                  THEN n_chars END) AS hi_chars
  FROM ranked GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars, b.lo_chars, b.hi_chars
FROM documents d JOIN bounds b ON b.source = d.source
WHERE d.n_chars BETWEEN b.lo_chars AND b.hi_chars
"""


@register("length_quantile_filter", _LEN_QUANTILE_ORACLE)
def q_length_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-percentile gate: keep documents whose length
    falls inside that source's [p5, p95] — the outlier trim a curation
    pipeline runs per domain so one boilerplate-heavy host doesn't set
    the global cutoffs. Percentiles are *discrete* (the value at rank
    ``ceil(q·n)`` under the total order (n_chars, doc_id)) — integers
    end to end, no interpolation, so both engines agree bit-exactly;
    ``n·0.05`` is one correctly-rounded IEEE multiply on both sides.

    Scale shape: one exchange on source ranks each source's docs; the
    bounds table collapses to |sources| rows and joins back — nothing
    quadratic, no driver collect, no full sort. The join strategy is
    deliberately LEFT TO CATALYST (no broadcast hint): at test scale the
    size estimate picks BroadcastHashJoin (plan-asserted); at web scale
    (10M+ hosts) a forced broadcast of the bounds table would OOM the
    driver, while the planner's fallback SMJ is already co-partitioned
    on source by the rank window's exchange. Contrast with
    percentile_approx: this is exact, and the rank window is the same
    shuffle the approx version would need anyway."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    lo_rk = F.ceil(F.col("n") * 0.05)
    hi_rk = F.ceil(F.col("n") * 0.95)
    bounds = ranked.groupBy("source").agg(
        F.min(F.when(F.col("rk") == lo_rk, F.col("n_chars"))).alias("lo_chars"),
        F.min(F.when(F.col("rk") == hi_rk, F.col("n_chars"))).alias("hi_chars"),
    )
    return docs.join(bounds, "source").where(
        F.col("n_chars").between(F.col("lo_chars"), F.col("hi_chars"))
    ).select("doc_id", "source", "n_chars", "lo_chars", "hi_chars")


# --- quality/cost Pareto frontier (round 6, late) -----------------------------

def _pareto_oracle() -> str:
    q = ta.quality_score_sql()
    return f"""
    WITH scored AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {q} AS q
      FROM documents
    ),
    w AS (
      SELECT source, doc_id, n_tokens, q,
             max(q) OVER (PARTITION BY source ORDER BY n_tokens
                          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cheaper_max,
             max(q) OVER (PARTITION BY source ORDER BY n_tokens
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
               AS peer_max
      FROM scored
    )
    SELECT source, doc_id, n_tokens, round(q, 6) AS quality
    FROM w
    WHERE q = peer_max AND (cheaper_max IS NULL OR q > cheaper_max)
    """


@register("pareto_frontier", _pareto_oracle())
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality/cost Pareto frontier: the documents no
    same-source document strictly dominates on (fewer tokens, higher
    quality) — the efficient set a budget-constrained selector chooses
    from (every other doc is strictly worse per token spent; `top_p
    _selection` spends a budget down a 1-D ranking, this is the 2-D
    counterpart).

    The skyline is computed with TWO frames over ONE sort: a running
    strict-predecessor max (RANGE ... 1 PRECEDING — all strictly cheaper
    docs) and a peers max (RANGE CURRENT ROW — equal-cost docs); a doc
    is on the frontier iff it tops its cost class and beats every
    cheaper class. Equal (tokens, quality) twins are both kept (neither
    strictly dominates), which the oracle's identical frames pin.

    Scale shape: one scan (scoring is a codegen map), ONE source-keyed
    exchange and ONE sort feeding both window frames — the same
    single-exchange discipline as top_p_selection; output is
    frontier-sized. At 100 TB the per-source window is the parallel
    unit; no join, no second scan, no driver involvement."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens"),
        ta.quality_score(F.col("text")).alias("q"),
    )
    base = W.partitionBy("source").orderBy("n_tokens")
    cheaper = base.rangeBetween(W.unboundedPreceding, -1)
    peers = base.rangeBetween(W.currentRow, W.currentRow)
    w = scored.select(
        "source",
        "doc_id",
        "n_tokens",
        "q",
        F.max("q").over(cheaper).alias("cheaper_max"),
        F.max("q").over(peers).alias("peer_max"),
    )
    return w.where(
        (F.col("q") == F.col("peer_max"))
        & (F.col("cheaper_max").isNull() | (F.col("q") > F.col("cheaper_max")))
    ).select("source", "doc_id", "n_tokens", F.round("q", 6).alias("quality"))


# --- greedy coverage selection (round 6, late) --------------------------------

#: Greedy rounds. Coverage gain is submodular, so the greedy pick is the
#: classic (1 - 1/e)-approximation to the optimal k-doc cover — three
#: rounds keep the unrolled oracle readable while exercising the
#: interaction that score-based selectors (top_p, pareto) cannot see:
#: pick 2's value DEPENDS on pick 1.
_COVER_ROUNDS = 3


def _coverage_oracle() -> str:
    parts = [
        '''tok AS (
      SELECT DISTINCT doc, w FROM (
        SELECT doc_id AS doc,
               unnest(CASE WHEN len(ws) >= 2
                           THEN list_transform(generate_series(1, len(ws) - 1),
                                               i -> ws[i] || ' ' || ws[i + 1])
                           ELSE CAST([] AS VARCHAR[]) END) AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
    ),
    t1 AS (SELECT * FROM tok)'''
    ]
    selects = []
    for r in range(1, _COVER_ROUNDS + 1):
        parts.append(f"""p{r} AS (
      SELECT doc, CAST(count(*) AS BIGINT) AS gain
      FROM t{r} GROUP BY doc ORDER BY gain DESC, doc LIMIT 1
    ),
    c{r} AS (
      {"SELECT DISTINCT w FROM t1 WHERE doc IN (SELECT doc FROM p1)" if r == 1 else
       f"SELECT w FROM c{r - 1} UNION SELECT DISTINCT w FROM t{r} WHERE doc IN (SELECT doc FROM p{r})"}
    ),
    t{r + 1} AS (
      SELECT * FROM t{r}
      WHERE w NOT IN (SELECT w FROM c{r})
        AND doc NOT IN (SELECT doc FROM p{r})
    )""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, doc AS doc_id, gain,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM c{r}) AS covered_after"
            f" FROM p{r}"
        )
    return "WITH " + ",\n    ".join(parts) + "\n    " + " UNION ALL ".join(selects)


@register("greedy_coverage_selection", _coverage_oracle())
def q_greedy_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection: pick the document adding
    the most NOT-YET-COVERED distinct tokens, {n} rounds — the
    submodular coreset shape (facility location / max-cover, the
    (1−1/e) greedy guarantee) that score-per-doc selectors
    (`top_p_selection`, `pareto_frontier`) structurally cannot express,
    because each pick's value depends on the previous picks. The emitted
    table is (round, picked doc, marginal gain, covered vocabulary after
    the pick): diminishing marginal gains are the submodularity
    evidence, under the exact hash gate with the loop unrolled as CTE
    stages in the oracle (the `kcore_peeling` discipline).

    Scale shape: the state that moves between rounds is the COVERED
    TOKEN SET (vocabulary-bounded — broadcast anti-join), never the
    corpus; each round is one distinct (doc, token) aggregate plus a
    TakeOrderedAndProject top-1 (never a global window), and the picked
    doc's removal is a 1-row broadcast anti-join. Rounds
    localCheckpoint so round r+1 reads blocks, not lineage. At corpus
    scale the per-round frontier shrinks monotonically (tokens leave,
    never enter)."""
    docs = load_table(spark, sf_dir, "documents")
    # coverage units are word BIGRAMS (distinct per doc): a unigram
    # vocabulary this small is fully covered by one long document, which
    # collapses the greedy loop to a single pick
    tok = (
        cu.explode_ngrams(docs, "doc_id", "text", 2)
        .select(F.col("doc_id").alias("doc"), F.col("gram").alias("w"))
        .distinct()
        .localCheckpoint()
    )
    # round loop lives in the shared kernel (operators/selection.py —
    # also the streaming face's engine, so the two cannot fork)
    rows, _newly = sel.greedy_cover_rounds(tok, _COVER_ROUNDS)
    out = rows[0]
    for rr in rows[1:]:
        out = out.unionByName(rr)
    return out


q_greedy_coverage_selection.__doc__ = q_greedy_coverage_selection.__doc__.format(
    n=_COVER_ROUNDS
)


# --- content-defined chunking (round 7) --------------------------------------

#: Expected chunk length: boundary where the rolling context hash is
#: 0 mod 64. The cut decision depends only on a 3-word context, so an
#: insertion re-cuts ONE chunk — the CDC property fixed-size windows
#: (chunk_dedup) lack.
_CDC_MASK = 64
_M31 = (1 << 31) - 1

_CDC_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws FROM base
),
w AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(concat('0x', substr(md5(ws[i]), 1, 15)) AS BIGINT) % {_M31}
           AS wh,
         CAST(concat('0x', substr(md5(ws[i]), 16, 15)) AS BIGINT) % {_M31}
           AS wh2
  FROM pos
),
ctx AS (
  SELECT doc_id, pos, wh, wh2,
         CASE WHEN pos >= 2 THEN
           (wh + 31 * lag(wh, 1) OVER dw + 961 * lag(wh, 2) OVER dw)
             % {_M31}
         END AS h
  FROM w
  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
flg AS (
  SELECT doc_id, pos, wh, wh2,
         CASE WHEN h IS NOT NULL AND h % {_CDC_MASK} = 0 THEN 1 ELSE 0 END
           AS cut
  FROM ctx
),
chunks AS (
  SELECT doc_id, pos, wh, wh2,
         COALESCE(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS chunk_idx
  FROM flg
),
lp AS (
  SELECT doc_id, chunk_idx, wh, wh2,
         row_number() OVER (PARTITION BY doc_id, chunk_idx ORDER BY pos)
           AS local_pos
  FROM chunks
),
agg AS (
  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(local_pos * wh) AS BIGINT) AS fp1,
         CAST(sum(local_pos * wh2) AS BIGINT) AS fp2
  FROM lp GROUP BY doc_id, chunk_idx
)
SELECT doc_id, chunk_idx, n_words, fp1, fp2,
       CAST(count(*) OVER (PARTITION BY n_words, fp1, fp2) AS BIGINT)
         AS n_copies
FROM agg
"""


@register("cdc_chunking", _CDC_ORACLE)
def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS cut-point algorithm):
    chunk boundaries fall where a rolling 3-word context hash is
    0 mod {m} — so boundaries are a function of CONTENT, not position,
    and an insertion/deletion re-cuts exactly one chunk instead of
    shifting every downstream window (the failure mode of fixed-size
    `chunk_dedup` under edits). The emitted table is the chunk manifest
    (doc, chunk_idx, length, two independent position-weighted
    fingerprints) plus each chunk's corpus-wide copy count — the
    dedup-storage shape: identical chunks across near-identical docs
    share fingerprints and collapse at the storage layer.

    Engine-portable arithmetic throughout: per-word 60-bit md5-fold
    hashes reduced mod 2^31-1, the rolling context as an integer
    combination of the last three word hashes (never string concat
    across rows), fingerprints as position-weighted integer sums
    bounded < 2^50 (no overflow on either engine), chunk identity =
    (n_words, fp1, fp2) — a double-fingerprint match, collision odds
    ~2^-60 per pair.

    Scale shape: one doc-keyed exchange serves every window (context
    lags, cut-flag prefix sum, local rank — same sort order reused);
    the chunk aggregate partial-combines; the copy count is one
    fingerprint-keyed exchange of manifest rows (chunks, not words). At
    100 TB this is the chunk-manifest build of a dedup store; the
    word-level frame never shuffles twice.
    """
    return cdc_chunk_manifest(load_table(spark, sf_dir, "documents"))


def cdc_chunk_manifest(docs: DataFrame) -> DataFrame:
    """The CDC manifest kernel over any (doc_id, text) frame — module
    level so the shift-robustness property (an insertion re-cuts one
    chunk) is testable on synthetic documents."""
    words = F.split(F.col("text"), " ", -1)
    wpos = docs.select(
        "doc_id", F.posexplode(words).alias("pos", "w")
    )
    wh = F.pmod(
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long"),
        F.lit(_M31),
    )
    wh2 = F.pmod(
        F.conv(F.substring(F.md5("w"), 16, 15), 16, 10).cast("long"),
        F.lit(_M31),
    )
    dw = W.partitionBy("doc_id").orderBy("pos")
    base = wpos.select(
        "doc_id", "pos", wh.alias("wh"), wh2.alias("wh2")
    )
    h = F.pmod(
        F.col("wh")
        + 31 * F.lag("wh", 1).over(dw)
        + 961 * F.lag("wh", 2).over(dw),
        F.lit(_M31),
    )
    flagged = base.withColumn(
        "cut",
        F.when(
            (F.col("pos") >= 2) & (F.pmod(h, F.lit(_CDC_MASK)) == 0), 1
        ).otherwise(0),
    )
    chunked = flagged.withColumn(
        "chunk_idx",
        F.coalesce(
            F.sum("cut").over(dw.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    lw = W.partitionBy("doc_id", "chunk_idx").orderBy("pos")
    ranked = chunked.withColumn("local_pos", F.row_number().over(lw))
    agg = ranked.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.col("local_pos") * F.col("wh")).cast("long").alias("fp1"),
        F.sum(F.col("local_pos") * F.col("wh2")).cast("long").alias("fp2"),
    )
    cw = W.partitionBy("n_words", "fp1", "fp2")
    return agg.select(
        "doc_id", "chunk_idx", "n_words", "fp1", "fp2",
        F.count("*").over(cw).cast("long").alias("n_copies"),
    )


q_cdc_chunking.__doc__ = q_cdc_chunking.__doc__.format(m=_CDC_MASK)


# --- mixture water-filling allocator (round 7) --------------------------------

_WF_EPOCH_CAP = 3  # no source may be repeated more than 3 epochs
_WF_BUDGET_X = 2  # total training budget = 2x the corpus token mass

_WF_ORACLE = f"""
WITH src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c,
         1 + (CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT) % 4)
           AS w
  FROM documents GROUP BY source
),
base AS (
  SELECT source, c, w, {_WF_EPOCH_CAP} * c AS cap,
         {_WF_BUDGET_X} * sum(c) OVER () AS t,
         sum(w) OVER () AS wtot,
         CAST(cap AS DOUBLE) / w AS ratio
  FROM src
),
cums AS (
  SELECT *,
         COALESCE(sum(w) OVER (ORDER BY ratio, source
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS cumw,
         COALESCE(sum(cap) OVER (ORDER BY ratio, source
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS cumcap
  FROM base
),
flagged AS (
  SELECT *,
         CASE WHEN cap * (wtot - cumw) <= (t - cumcap) * w
              THEN 1 ELSE 0 END AS saturated
  FROM cums
),
tot AS (
  SELECT *,
         sum(CASE WHEN saturated = 1 THEN cap ELSE 0 END) OVER () AS csat,
         wtot - sum(CASE WHEN saturated = 1 THEN w ELSE 0 END) OVER ()
           AS wunsat
  FROM flagged
)
SELECT source, c AS tokens_available, CAST(w AS BIGINT) AS weight,
       CAST(cap AS BIGINT) AS cap,
       CAST(saturated AS BIGINT) AS saturated,
       CAST(CASE WHEN saturated = 1 OR wunsat = 0 THEN cap
                 ELSE ((t - csat) * w
                       - ((((t - csat) * w) % wunsat) + wunsat) % wunsat)
                      // wunsat
            END AS BIGINT) AS alloc_tokens
FROM tot
"""


@register("mixture_waterfill", _WF_ORACLE)
def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-budget allocator: given per-source token masses, target
    mixture weights, and a hard per-source repetition cap ({cap} epochs),
    solve the water-filling problem — allocate a total budget of
    {bx}x the corpus token mass proportionally to weight, EXCEPT that a
    source may never exceed its cap; freed budget redistributes to the
    unsaturated sources, still weight-proportionally. This is the
    planning stage upstream of `mixture_sample` (which consumes weights;
    this SOLVES for the per-source allocation under epoch constraints —
    the Chinchilla-style "how many epochs of each source" question).

    Exact algorithm, no iteration: sort sources by cap/weight (the
    saturation order); a source saturates iff
    cap_k * W_remaining <= Budget_remaining * w_k evaluated with prefix
    cumulative sums in that order — the test is monotone along the sort
    (proved: a false test forces the water level strictly down, and
    ratios only grow), so the saturated set is a sort prefix found in ONE
    window pass, and every comparison is integer cross-multiplied (no
    division anywhere in the decision; the only division is the final
    floor allocation, spelled wrap-free via the exact_floordiv identity
    on both engines).

    Scale shape: one groupBy(source) aggregate over the corpus (the only
    corpus-sized stage, partial-combined), then every window runs on the
    manifest-sized source frame (#sources rows). The allocator for a
    100 TB corpus is the same plan with a bigger first aggregate."""
    from ..functions.intmath import exact_floordiv, md5_fold60

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ", -1))).cast("long").alias("c")
    )
    base = src.select(
        "source",
        "c",
        (1 + F.pmod(md5_fold60(F.col("source")), F.lit(4))).alias("w"),
        (F.lit(_WF_EPOCH_CAP) * F.col("c")).alias("cap"),
    )
    full = W.partitionBy()
    base = base.select(
        "*",
        (F.lit(_WF_BUDGET_X) * F.sum("c").over(full)).alias("t"),
        F.sum("w").over(full).alias("wtot"),
        (F.col("cap").cast("double") / F.col("w")).alias("ratio"),
    )
    order = W.orderBy("ratio", "source")
    prev = order.rowsBetween(W.unboundedPreceding, -1)
    cums = base.select(
        "*",
        F.coalesce(F.sum("w").over(prev), F.lit(0)).alias("cumw"),
        F.coalesce(F.sum("cap").over(prev), F.lit(0)).alias("cumcap"),
    )
    flagged = cums.withColumn(
        "saturated",
        (
            F.col("cap") * (F.col("wtot") - F.col("cumw"))
            <= (F.col("t") - F.col("cumcap")) * F.col("w")
        ).cast("long"),
    )
    tot = flagged.select(
        "*",
        F.sum(
            F.when(F.col("saturated") == 1, F.col("cap")).otherwise(0)
        )
        .over(full)
        .alias("csat"),
        (
            F.col("wtot")
            - F.sum(
                F.when(F.col("saturated") == 1, F.col("w")).otherwise(0)
            ).over(full)
        ).alias("wunsat"),
    )
    return tot.select(
        "source",
        F.col("c").alias("tokens_available"),
        F.col("w").cast("long").alias("weight"),
        F.col("cap").cast("long").alias("cap"),
        "saturated",
        F.when(
            (F.col("saturated") == 1) | (F.col("wunsat") == 0), F.col("cap")
        )
        .otherwise(
            exact_floordiv(
                (F.col("t") - F.col("csat")) * F.col("w"), F.col("wunsat")
            )
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


q_mixture_waterfill.__doc__ = q_mixture_waterfill.__doc__.format(
    cap=_WF_EPOCH_CAP, bx=_WF_BUDGET_X
)


# --- Merkle-tree snapshot diff localization (round 7) -------------------------

_MK_MASK = mk.MASK  # digest domain: sums of <=16 masked terms stay < 2^54
_MK_LEAF = mk.LEAF  # docs per leaf bucket
_MK_FAN = mk.FAN  # tree fan-out above the leaves

_MK_ORACLE = f"""
WITH v1 AS (
  SELECT doc_id, text FROM documents
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 101 = 7 THEN text || ' EDITED' ELSE text END
           AS text
  FROM documents WHERE doc_id % 103 <> 11
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, reverse(text) AS text
  FROM documents WHERE doc_id % 107 = 13
),
f1 AS (
  SELECT doc_id // {_MK_LEAF} AS node,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       text), 1, 15)) AS BIGINT)
           % {_MK_MASK} AS fp
  FROM v1
),
f2 AS (
  SELECT doc_id // {_MK_LEAF} AS node,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       text), 1, 15)) AS BIGINT)
           % {_MK_MASK} AS fp
  FROM v2
),
a0 AS (SELECT 0 AS lvl, node, sum(fp) AS d FROM f1 GROUP BY node),
a1 AS (SELECT 1 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM a0 GROUP BY node // {_MK_FAN}),
a2 AS (SELECT 2 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM a1 GROUP BY node // {_MK_FAN}),
a3 AS (SELECT 3 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM a2 GROUP BY node // {_MK_FAN}),
t1 AS (SELECT * FROM a0 UNION ALL SELECT * FROM a1
       UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3),
b0 AS (SELECT 0 AS lvl, node, sum(fp) AS d FROM f2 GROUP BY node),
b1 AS (SELECT 1 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM b0 GROUP BY node // {_MK_FAN}),
b2 AS (SELECT 2 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM b1 GROUP BY node // {_MK_FAN}),
b3 AS (SELECT 3 AS lvl, node // {_MK_FAN} AS node,
              sum(CAST(concat('0x', substr(md5(CAST(node AS VARCHAR) || ':'
                   || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % {_MK_MASK})
                AS d
       FROM b2 GROUP BY node // {_MK_FAN}),
t2 AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1
       UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)
SELECT CAST(COALESCE(t1.lvl, t2.lvl) AS BIGINT) AS lvl,
       CAST(COALESCE(t1.node, t2.node) AS BIGINT) AS node,
       CAST(t1.d AS BIGINT) AS digest_v1, CAST(t2.d AS BIGINT) AS digest_v2
FROM t1 FULL OUTER JOIN t2 ON t1.lvl = t2.lvl AND t1.node = t2.node
WHERE t1.d IS DISTINCT FROM t2.d
"""


@register("merkle_diff", _MK_ORACLE)
def q_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree release audit with O(changed * log n) diff
    localization — the hierarchical layer above `corpus_snapshot_diff`
    (which compares every fingerprint; at 100 TB a release auditor wants
    to WALK to the changed key ranges, reading tree rows proportional to
    the change set, not the corpus). Two snapshot versions derive
    deterministically from the corpus (docs % 101 = 7 edited, % 103 = 11
    deleted, % 107 = 13 added under a shifted key); each builds a
    4-layer digest tree: range-bucketed leaves (doc_id div {leaf}), then
    fan-{fan} parents whose digest sums the re-hashed child digests
    (per-level re-hashing keeps collisions local). The emitted rows are
    exactly the differing tree nodes at every level — an unchanged
    subtree contributes NOTHING, which is the localization property, and
    the property test checks it structurally: differing nodes at level
    k+1 are precisely the parents of differing nodes at level k.

    Scale shape: one corpus-sized fingerprint aggregate per version
    (partial-combined); every level above the leaves aggregates a frame
    {fan}x smaller than the one below; the final full-outer join runs on
    tree rows (corpus/{leaf} + geometric tail). All digests are masked
    60-bit md5-folds summed inside int64 bounds — portable across
    engines, no float, no overflow."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = docs.where(F.col("doc_id") % 103 != 11).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 101 == 7,
            F.concat(F.col("text"), F.lit(" EDITED")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") % 107 == 13).select(
            (F.col("doc_id") + F.lit(1000000000)).cast("long").alias(
                "doc_id"
            ),
            F.reverse(F.col("text")).alias("text"),
        )
    )

    t1 = mk.digest_tree(mk.doc_fingerprints(docs)).alias("t1")
    t2 = mk.digest_tree(mk.doc_fingerprints(v2)).alias("t2")
    joined = t1.join(
        t2,
        (F.col("t1.lvl") == F.col("t2.lvl"))
        & (F.col("t1.node") == F.col("t2.node")),
        "full_outer",
    )
    return joined.where(
        ~F.col("t1.d").eqNullSafe(F.col("t2.d"))
    ).select(
        F.coalesce(F.col("t1.lvl"), F.col("t2.lvl"))
        .cast("long")
        .alias("lvl"),
        F.coalesce(F.col("t1.node"), F.col("t2.node"))
        .cast("long")
        .alias("node"),
        F.col("t1.d").cast("long").alias("digest_v1"),
        F.col("t2.d").cast("long").alias("digest_v2"),
    )


q_merkle_diff.__doc__ = q_merkle_diff.__doc__.format(
    leaf=_MK_LEAF, fan=_MK_FAN
)
