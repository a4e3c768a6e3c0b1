"""Portable sketch / approximate operators (round 5) — the constant-memory
building blocks a 100 TB pipeline swaps in when exact shuffles stop being
affordable, each computed with *integer-pure* arithmetic so the DuckDB
oracle pins the sketch contents themselves, not just a tolerance contract:

- ``hll_registers``      — register-exact HyperLogLog distinct sketch;
- ``bloom_join_prune``   — Bloom-filter semi-join pruning with exact
  false-positive accounting;
- ``approx_quantile_binned`` — equi-width histogram quantiles (the
  fixed-size alternative to percentile buffers);
- ``mixture_temperature``    — sqrt-temperature source upweighting for
  training mixtures (UnifiedQA / T5-style α=0.5), integer quotas.

Hashing uses the same affine-mod-Mersenne family as the MinHash/SimHash
operators (operators/dedup.py) — multiply/add/pmod on int64, bit-identical
on any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.text_analysis import MOD
from ..session import load_table
from . import register

# --- HyperLogLog ------------------------------------------------------------

HLL_M = 64  # registers (p=6): rsd = 1.04/sqrt(64) = 13 %
HLL_WBITS = 25  # h < 2^31 ⇒ w = h div 64 < 2^25
HLL_A, HLL_B = 48271 * 2 + 1, 104729  # affine hash constants (odd a)
HLL_A2, HLL_A3 = 16807 * 4 + 1, 69621 * 2 + 1

#: The MinHash-style affine map alone is NOT enough here: ρ reads the
#: *trailing zeros* of the hash, and multiplication only propagates
#: entropy upward, so an affine map leaves the low bits of consecutive
#: keys patterned (observed: 0 empty registers where ~6 were expected).
#: Two xor-fold + multiply rounds give the avalanche trailing-zero
#: statistics need; every step (xor, >> by a literal, ×31-bit constant,
#: mod 2^31−1) is exact int64 on both engines.


def _hll_mix_sql(key: str) -> str:
    s1 = f"(({key} * {HLL_A} + {HLL_B}) % {MOD})"
    s2 = f"((xor({s1}, {s1} // 32768) * {HLL_A2}) % {MOD})"
    return f"((xor({s2}, {s2} // 8192) * {HLL_A3}) % {MOD})"


def _hll_mix_col(key):
    s1 = F.pmod(key * HLL_A + HLL_B, F.lit(MOD))
    s2 = F.pmod(s1.bitwiseXOR(F.shiftright(s1, 15)) * HLL_A2, F.lit(MOD))
    return F.pmod(s2.bitwiseXOR(F.shiftright(s2, 13)) * HLL_A3, F.lit(MOD))


def _rho_sql(w: str) -> str:
    """ρ(w) = trailing zeros + 1 (w = 0 ⇒ WBITS+1) as a CASE chain —
    generated from the same loop as the Spark expression so the two can
    never drift."""
    branches = [f"WHEN {w} = 0 THEN {HLL_WBITS + 1}"]
    for k in range(HLL_WBITS - 1, 0, -1):
        branches.append(f"WHEN {w} % {1 << k} = 0 THEN {k + 1}")
    return "CASE " + " ".join(branches) + " ELSE 1 END"


def _rho_col(w):
    expr = F.lit(1)
    for k in range(1, HLL_WBITS):
        expr = F.when(w % (1 << k) == 0, k + 1).otherwise(expr)
    return F.when(w == 0, HLL_WBITS + 1).otherwise(expr).cast("long")


#: Z-scale exponent: ρ ranges 1..WBITS+1 (the +1 is the w = 0 case), so
#: the harmonic term 2^(ZBITS − ρ) must scale by 2^(WBITS+1) to stay an
#: INTEGER for ρ = WBITS+1 (scaling by 2^WBITS made that term ½ and the
#: naive shift-by-(WBITS−ρ) = shift-by-−1, which Spark masks to shift 63
#: = Long.MIN_VALUE — garbage z, divergent oracle).
HLL_ZBITS = HLL_WBITS + 1

#: α·m²·2^ZBITS, pre-quantized to an exact integer so both engines divide
#: the same numerator (α_64 = 0.709 as the rational 709/1000)
HLL_NUM = (709 * HLL_M * HLL_M * (1 << HLL_ZBITS)) // 1000

_HLL_ORACLE = f"""
WITH h AS (
  SELECT event_type, user_id,
         {_hll_mix_sql("user_id")} AS hv
  FROM events
),
regs AS (
  SELECT event_type, hv % {HLL_M} AS reg,
         max({_rho_sql(f"(hv // {HLL_M})")}) AS m
  FROM h GROUP BY event_type, hv % {HLL_M}
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_regs,
         CAST(sum(m) AS BIGINT) AS reg_sum,
         CAST(max(m) AS BIGINT) AS reg_max,
         CAST(sum((1::BIGINT << ({HLL_ZBITS} - m))) AS BIGINT) AS z_present
  FROM regs GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY event_type
)
SELECT a.event_type, ex.exact_users, a.reg_sum, a.reg_max,
       CAST({HLL_M} - a.n_regs AS BIGINT) AS n_zero_regs,
       CAST(a.z_present + ({HLL_M} - a.n_regs) * (1::BIGINT << {HLL_ZBITS})
            AS BIGINT) AS z_scaled,
       CAST({HLL_NUM}
            // (a.z_present + ({HLL_M} - a.n_regs) * (1::BIGINT << {HLL_ZBITS}))
            AS BIGINT) AS hll_est
FROM agg a JOIN ex ON ex.event_type = a.event_type
"""


@register("hll_registers", _HLL_ORACLE)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-exact HyperLogLog (Flajolet et al. 2007) per event_type,
    next to the exact distinct count it approximates.

    The sketch is the 100 TB path for distinct counting: 64 registers =
    64 bytes per group, merged with max() — partial-aggregates map-side,
    so the shuffle carries one register set per (partition, group)
    instead of a (group, user) pair per row the exact count needs. The
    affine hash, register split (h mod m / h div m), ρ = trailing zeros,
    and the harmonic sum are all int64 arithmetic, so the oracle pins the
    *registers themselves* (reg_sum / reg_max / z_scaled) plus an
    integer-division estimate ``hll_est = (0.709·m²·2^26) // Z`` — not a
    tolerance band that could flip on unseen data. Estimate quality
    (rsd = 13 % at m=64) is asserted in tests, not in the hash contract.

    The exact count stays in the query as its own verifier, mirroring
    cms_heavy_hitters. int64 headroom: HLL_NUM // Z is exact integer
    division on both engines; registers cap ρ at WBITS+1 = 26.

    ``hll_est`` is the *raw* Flajolet estimator; in the small-range
    regime (``n_zero_regs > 0``, n ≲ 2.5·m) the standard correction is
    linear counting, m·ln(m/V) — a consumer-side float the tests apply
    but the hash contract deliberately excludes (ln is not guaranteed
    identically rounded across engines; every emitted column here is
    exact int64)."""
    from ..session import load_table

    ev = load_table(spark, sf_dir, "events")
    hv = _hll_mix_col(F.col("user_id"))
    regs = (
        ev.select(
            "event_type",
            F.pmod(hv, F.lit(HLL_M)).alias("reg"),
            _rho_col(F.floor(hv / HLL_M)).alias("rho"),
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m"))
    )
    # 2^(ZBITS - m) with a column shift amount: expression form (the
    # functions.shiftleft signature takes only a literal bit count).
    # ZBITS, not WBITS: ρ reaches WBITS+1 and the shift must stay ≥ 0.
    z_present = F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_ZBITS} - m AS INT))")
    )
    agg = regs.groupBy("event_type").agg(
        F.count("*").alias("n_regs"),
        F.sum("m").alias("reg_sum"),
        F.max("m").alias("reg_max"),
        z_present.alias("z_present"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    z_scaled = F.col("z_present") + (HLL_M - F.col("n_regs")) * F.lit(1 << HLL_ZBITS)
    return (
        agg.join(exact, "event_type")
        .withColumn("z_scaled", z_scaled.cast("long"))
        .select(
            "event_type",
            F.col("exact_users").cast("long").alias("exact_users"),
            F.col("reg_sum").cast("long").alias("reg_sum"),
            F.col("reg_max").cast("long").alias("reg_max"),
            (F.lit(HLL_M) - F.col("n_regs")).cast("long").alias("n_zero_regs"),
            "z_scaled",
            F.expr(f"CAST({HLL_NUM} div z_scaled AS BIGINT)").alias("hll_est"),
        )
    )


# --- Bloom-filter join pruning ---------------------------------------------

BLOOM_BITS = 4096
BLOOM_K = 3
BLOOM_A = [40503 * 2 * i + 1 for i in range(1, BLOOM_K + 1)]
BLOOM_B = [104729 * i + 7 for i in range(1, BLOOM_K + 1)]


def _bloom_pos_sql(key: str, i: int) -> str:
    return f"(({key} * {BLOOM_A[i]} + {BLOOM_B[i]}) % {MOD}) % {BLOOM_BITS}"


_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (
  {" UNION ".join(f"SELECT DISTINCT {_bloom_pos_sql('c_custkey', i)} AS pos FROM build" for i in range(BLOOM_K))}
),
probe AS (
  SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
),
pass AS (
  SELECT p.* FROM probe p
  WHERE {" AND ".join(f"{_bloom_pos_sql('o_custkey', i)} IN (SELECT pos FROM bits)" for i in range(BLOOM_K))}
),
truth AS (
  SELECT p.o_orderkey FROM probe p JOIN build b ON b.c_custkey = p.o_custkey
)
SELECT pr.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN pa.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(sum(CASE WHEN t.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true,
       CAST(sum(CASE WHEN pa.o_orderkey IS NOT NULL AND t.o_orderkey IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM probe pr
LEFT JOIN (SELECT o_orderkey FROM pass) pa ON pa.o_orderkey = pr.o_orderkey
LEFT JOIN truth t ON t.o_orderkey = pr.o_orderkey
GROUP BY pr.o_orderpriority
"""


@register("bloom_join_prune", _BLOOM_ORACLE)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, exact-accounted per order priority.

    The 100 TB move this models: instead of shuffling the full fact table
    into a semi join against a filtered dimension, broadcast a fixed-size
    bit set (here 4096 bits / k=3 — the distinct set-bit *positions*,
    ≤ 0.5 KB) and drop fact rows whose k positions aren't all set; only
    survivors pay the exact join. The query emits, per o_orderpriority:
    probe count, bloom-pass count, exact-semi-join count, and the false
    positives the bloom admitted — the number the filter's sizing
    (bits/k vs build cardinality) is tuned against. All counts are exact
    integers; the affine position arithmetic is identical in the oracle,
    so the emitted false-positive count is pinned, not bounded.

    Plan shape: the build side aggregates to ≤ 3·4096 distinct positions
    (broadcast); each membership test is a BroadcastHashJoin
    (LeftSemi) on the probe scan — no probe-side shuffle until the final
    group-count."""
    from ..session import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def pos(col, i):
        return F.pmod(
            F.pmod(col * BLOOM_A[i] + BLOOM_B[i], F.lit(MOD)), F.lit(BLOOM_BITS)
        )

    bits = None
    for i in range(BLOOM_K):
        p = build.select(pos(F.col("c_custkey"), i).alias("pos")).distinct()
        bits = p if bits is None else bits.union(p)
    # No persist on bits: the distinct is exchange-bounded, so runtime
    # exchange reuse already shares the build across the K broadcast
    # probes; the r12 fence measured a wash isolated and was slower in
    # every full-session run (0.95 s r11 -> 0.88/1.02/1.41/2.21 s).
    bits = bits.distinct()
    probe = orders.select("o_orderkey", "o_custkey", "o_orderpriority")
    passed = probe
    for i in range(BLOOM_K):
        passed = passed.join(
            F.broadcast(bits),
            pos(F.col("o_custkey"), i) == F.col("pos"),
            "left_semi",
        )
    truth = probe.join(
        F.broadcast(build), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    flagged = (
        probe.join(
            passed.select(F.col("o_orderkey").alias("k1")),
            F.col("o_orderkey") == F.col("k1"),
            "left",
        )
        .join(
            truth.select(F.col("o_orderkey").alias("k2")),
            F.col("o_orderkey") == F.col("k2"),
            "left",
        )
    )
    is_pass = F.col("k1").isNotNull()
    is_true = F.col("k2").isNotNull()
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(is_pass, 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(is_true, 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(is_pass & ~is_true, 1).otherwise(0)).alias("n_false_pos"),
    )


# --- binned quantile sketch -------------------------------------------------

QBIN_WIDTH = 5.0  # events.value ∈ [0, ~500) ⇒ ≤ ~100 bins


_QBIN_ORACLE = f"""
WITH b AS (
  SELECT event_type, CAST(floor(value / {QBIN_WIDTH}) AS BIGINT) AS bin,
         count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY event_type, bin
),
cum AS (
  SELECT event_type, bin, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM b
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(min(CASE WHEN cum * 2 >= n THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS BIGINT) AS p95_bin
FROM cum GROUP BY event_type
"""


@register("approx_quantile_binned", _QBIN_ORACLE)
def q_approx_quantile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram quantiles per event_type: the fixed-size
    alternative to exact percentiles (whose aggregation buffers every
    group value) and to percentile_approx (whose sketch is not
    engine-portable). One map-side-combined count per (group, bin) —
    the state is bounded by the bin count regardless of row count — then
    the quantile is the first bin whose cumulative count crosses the
    rank, found with integer cross-multiplication (cum·2 ≥ n for p50,
    cum·20 ≥ 19·n for p95) so no float rank arithmetic is involved.
    ``floor(value / width)`` is one IEEE division + floor — identical on
    both engines. Resolution = the bin width; the exact-rank bracket
    check lives in sketch_error_bounds."""
    from ..session import load_table

    ev = load_table(spark, sf_dir, "events")
    # NULL measurements carry no rank information — and a NULL bin would
    # sort NULLS FIRST in Spark's cum window vs NULLS LAST in DuckDB's,
    # shifting every cumulative count; filter on both engines
    b = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / QBIN_WIDTH).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("c"))
    )
    wcum = W.partitionBy("event_type").orderBy("bin")
    wall = W.partitionBy("event_type")
    cum = b.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("bin")))
        .cast("long")
        .alias("p50_bin"),
        F.min(F.when(F.col("cum") * 20 >= F.col("n") * 19, F.col("bin")))
        .cast("long")
        .alias("p95_bin"),
    )


# --- temperature-weighted training mixture ----------------------------------

MIX_BUDGET = 10_000  # target corpus size the quotas divide


_MIXTURE_TEMP_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT)
           AS quota_scaled
  FROM documents GROUP BY source
),
tot AS (SELECT sum(quota_scaled) AS total FROM s)
SELECT s.source, s.n_docs, s.quota_scaled,
       CAST(s.n_docs * 1000000 // (SELECT sum(n_docs) FROM s) AS BIGINT)
         AS nat_ppm,
       CAST(s.quota_scaled * 1000000 // tot.total AS BIGINT) AS temp_ppm,
       CAST(s.quota_scaled * {MIX_BUDGET} // tot.total AS BIGINT) AS n_target
FROM s, tot
"""


@register("mixture_temperature", _MIXTURE_TEMP_ORACLE)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source upweighting for a training mixture
    (the T5/UnifiedQA move: sample source s proportional to n_s^α so
    small curated sources aren't drowned by the crawl): α = 0.5, whose
    ``sqrt`` is the one power IEEE guarantees correctly rounded — any
    other α would make the weight engine-dependent. The sqrt immediately
    quantizes to an integer quota (floor ×1e6), so the cross-source
    normalization is integer division over an order-free integer sum.
    Emits, per source: natural vs temperature shares in exact ppm and
    the integer document budget each source gets out of MIX_BUDGET.

    Scale shape: one count per source (map-side combined), then
    arithmetic over the ~|sources| rows — nothing else moves."""
    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    quota = F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000).cast("long")
    s = s.select("source", F.col("n_docs").cast("long").alias("n_docs"), quota.alias("quota_scaled"))
    tot = s.agg(
        F.sum("quota_scaled").alias("total"), F.sum("n_docs").alias("total_docs")
    )
    # `div`, not floor(double /): the oracle's `//` is exact BIGINT
    # division, and floor over a double quotient drifts by 1 once the
    # numerator crosses 2^53 (quota_scaled·1e6 gets there at ~8e7 docs
    # per source — inside the design target)
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "quota_scaled",
            F.expr("CAST(n_docs * 1000000 div total_docs AS BIGINT)").alias(
                "nat_ppm"
            ),
            F.expr("CAST(quota_scaled * 1000000 div total AS BIGINT)").alias(
                "temp_ppm"
            ),
            F.expr(f"CAST(quota_scaled * {MIX_BUDGET} div total AS BIGINT)").alias(
                "n_target"
            ),
        )
    )


# --- MinHash similarity estimate vs exact ----------------------------------

MH_P = 64  # permutations reused from the dedup family


def _mh_oracle() -> str:
    from ..operators.dedup import PERM_A, PERM_B

    mins = ", ".join(
        f"min((code * {PERM_A[i]} + {PERM_B[i]}) % {MOD}) AS m{i}"
        for i in range(MH_P)
    )
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(MH_P)
    )
    return f"""
WITH codes AS (
  SELECT DISTINCT source,
         CAST(ascii(w[1]) + length(w) AS BIGINT) AS code
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
),
sig AS (SELECT source, {mins} FROM codes GROUP BY source),
sizes AS (SELECT source, count(*) AS n FROM codes GROUP BY source),
pairs AS (
  SELECT a.source AS s1, b.source AS s2, CAST({matches} AS BIGINT) AS match_perms
  FROM sig a JOIN sig b ON a.source < b.source
),
common AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS c
  FROM codes a JOIN codes b ON a.code = b.code AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.s1, p.s2, p.match_perms,
       CAST(coalesce(c.c, 0) AS BIGINT) AS exact_common,
       CAST(sa.n + sb.n - coalesce(c.c, 0) AS BIGINT) AS exact_union
FROM pairs p
LEFT JOIN common c ON c.s1 = p.s1 AND c.s2 = p.s2
JOIN sizes sa ON sa.source = p.s1
JOIN sizes sb ON sb.source = p.s2
"""


@register("minhash_similarity_estimate", _mh_oracle())
def q_minhash_similarity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator held against its ground truth: for every
    source pair, the number of agreeing permutation minima (out of 64)
    next to the exact Jaccard ingredients of the two word-code sets —
    E[match_perms/64] = J is the property every LSH design in this
    engine stands on, and this query makes the estimate itself
    hash-auditable (both columns exact integers; the tests assert the
    estimator lands within binomial error of truth).

    Word codes (ascii of first char + length — the simhash feature map)
    rather than raw words keep the hashing engine-portable; the
    signature aggregate is 64 min() columns per source — map-side
    combined, 64 longs per group on the wire, the same shuffle shape as
    the dedup family's signature stage (operators/dedup.py).

    Scale: |sources|² pair comparisons on 64-long signatures is the
    *whole point* — compare sketches, never the sets; the exact side
    here is the verifier and would be dropped at 100 TB."""
    from ..operators.dedup import minhash_mins
    from ..session import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source", F.explode(F.split("text", " ", -1)).alias("w")
    )
    code = (F.ascii(F.substring("w", 1, 1)) + F.length("w")).cast("long")
    # NOT persisted (r12 A/B, alternating fresh-process median-of-3:
    # persist 2.65/3.09 s vs un-persisted 2.42/2.83 s): the distinct is
    # exchange-bounded, so runtime exchange reuse already shares one
    # explode+distinct across all six consumers; a persist only added a
    # materialization barrier
    codes = w.select("source", code.alias("code")).distinct()
    sig = codes.groupBy("source").agg(*minhash_mins("code"))
    a, b = sig.alias("a"), sig.alias("b")
    match_perms = sum(
        (
            F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
            for i in range(MH_P)
        ),
        F.lit(0),
    )
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("s1"),
        F.col("b.source").alias("s2"),
        match_perms.cast("long").alias("match_perms"),
    )
    ca, cb = codes.alias("ca"), codes.alias("cb")
    common = (
        ca.join(
            cb,
            (F.col("ca.code") == F.col("cb.code"))
            & (F.col("ca.source") < F.col("cb.source")),
        )
        .groupBy(F.col("ca.source").alias("s1"), F.col("cb.source").alias("s2"))
        .agg(F.count("*").alias("c"))
    )
    sizes = codes.groupBy("source").agg(F.count("*").alias("n"))
    return (
        pairs.join(common, ["s1", "s2"], "left")
        .join(sizes.select(F.col("source").alias("s1"), F.col("n").alias("na")), "s1")
        .join(sizes.select(F.col("source").alias("s2"), F.col("n").alias("nb")), "s2")
        .select(
            "s1",
            "s2",
            "match_perms",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("exact_common"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("exact_union"),
        )
    )


# --- native HLL++ distinct-count contract ------------------------------------

_ACD_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(1 AS BIGINT) AS within_3rsd
FROM events
GROUP BY event_type
"""


@register("approx_distinct_contract", _ACD_ORACLE)
def q_approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native HLL++ (``approx_count_distinct``, rsd = 0.05) next
    to the exact distinct count, emitted as a contract boolean (estimate
    within 3·rsd of truth — deterministic here: fixed data, fixed sketch
    seed) rather than the estimate itself, which no other engine could
    reproduce bit-for-bit. The same discipline as ``cms_heavy_hitters``:
    the oracle pins the booleans TRUE beside the hash-exact counts, so a
    sketch regression outside its guarantee turns the row red while the
    estimate's engine-private value stays out of the hash.

    Scale shape: both aggregates are two-phase; HLL++ partials are the
    fixed-size registers (map-side merged), while the exact leg shuffles
    one row per distinct (type, user) — the sketch is the 100-TB path,
    the exact leg exists as its own verifier.
    """
    from ..session import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.05).alias("est"),
    )
    within = (
        F.abs(F.col("est") - F.col("n_exact"))
        <= F.lit(3) * F.lit(0.05) * F.col("n_exact")
    )
    return agg.select(
        "event_type",
        "n_exact",
        F.when(within, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("within_3rsd"),
    )


# --- KMV distinct-set intersection (round 6) --------------------------------

KMV_K = 128  # sketch size: rsd ~ 1/sqrt(k-1) ~ 9 %


def _kmv_oracle() -> str:
    mix = _hll_mix_sql("(user_id * 100000 + (epoch_us(ts) // 86400000000))")
    est1 = f"CASE WHEN p.n1 < {KMV_K} THEN p.n1 ELSE (CAST({KMV_K - 1} AS BIGINT) * {MOD}) // p.hk1 END"
    est2 = f"CASE WHEN p.n2 < {KMV_K} THEN p.n2 ELSE (CAST({KMV_K - 1} AS BIGINT) * {MOD}) // p.hk2 END"
    estu = f"CASE WHEN u.nu < {KMV_K} THEN u.nu ELSE (CAST({KMV_K - 1} AS BIGINT) * {MOD}) // u.hku END"
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {mix} AS hv FROM events
),
ranked AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, hv FROM ranked WHERE rn <= {KMV_K}),
kth AS (SELECT event_type, max(hv) AS hk, count(*) AS n FROM sk GROUP BY 1),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         a.hk AS hk1, a.n AS n1, b.hk AS hk2, b.n AS n2
  FROM kth a JOIN kth b ON a.event_type < b.event_type
),
uni AS (
  SELECT p.t1, p.t2, s.hv
  FROM pairs p JOIN sk s ON s.event_type IN (p.t1, p.t2)
  GROUP BY 1, 2, 3
),
unir AS (
  SELECT t1, t2, hv,
         row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
  FROM uni
),
uk AS (SELECT t1, t2, hv FROM unir WHERE rn <= {KMV_K}),
ukth AS (SELECT t1, t2, max(hv) AS hku, count(*) AS nu FROM uk GROUP BY 1, 2),
rho AS (
  SELECT u.t1, u.t2, count(*) AS rho
  FROM uk u
  JOIN sk sa ON sa.event_type = u.t1 AND sa.hv = u.hv
  JOIN sk sb ON sb.event_type = u.t2 AND sb.hv = u.hv
  GROUP BY 1, 2
)
SELECT p.t1, p.t2,
       CAST({est1} AS BIGINT) AS est_card_1,
       CAST({est2} AS BIGINT) AS est_card_2,
       CAST({estu} AS BIGINT) AS est_union,
       CAST(coalesce(r.rho, 0) AS BIGINT) AS rho,
       CAST(coalesce(r.rho, 0) * ({estu}) // u.nu AS BIGINT) AS est_intersection
FROM pairs p
JOIN ukth u ON u.t1 = p.t1 AND u.t2 = p.t2
LEFT JOIN rho r ON r.t1 = p.t1 AND r.t2 = p.t2
"""


@register("kmv_set_intersection", _kmv_oracle())
def q_kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketches with set-intersection
    estimation (Beyer et al., "On Synopses for Distinct-Value Estimation
    Under Multiset Operations", SIGMOD'07): per event type, keep the
    KMV_K smallest avalanche-hashed (user, day) elements; cardinality is
    (k-1)*M/h_k once the sketch fills (exact count below k — both
    branches exercised across SFs); the union sketch of a pair is the k
    smallest of the merged element sets, and the intersection estimate
    is rho/k' of the union estimate where rho counts union-sketch
    elements present in BOTH per-type sketches.

    Everything is integer arithmetic on the engine-portable avalanche
    hash (the HLL family's mix), so the oracle pins sketch contents and
    estimates exactly — including the integer-division estimator.

    Scale shape: the only data-sized stage is the DISTINCT on
    (event_type, hash) — map-side combined, shuffle carries distinct
    longs. Each per-type top-k is a WindowGroupLimit rank (k rows per
    partition pre-shuffle); every stage after kth/sk is sketch-sized
    (types x k rows), so pairwise set algebra over any number of
    segments costs O(|pairs| * k) regardless of corpus size — the whole
    point of sketch-mergeable distinct state.
    """
    ev = load_table(spark, sf_dir, "events")
    elem = F.col("user_id") * 100000 + F.expr("unix_micros(ts) div 86400000000")
    h = ev.select("event_type", _hll_mix_col(elem).alias("hv")).distinct()
    w_t = W.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "hv")
        # No persist: the DISTINCT under the top-k window is
        # exchange-bounded, so runtime exchange reuse shares it across
        # the consumers; the r12 fence measured a wash isolated and was
        # slower in every full-session run (1.09 s r11 ->
        # 1.91/1.63/1.43/1.58 s post-fence).
    )
    kth = sk.groupBy("event_type").agg(
        F.max("hv").alias("hk"), F.count("*").alias("n")
    )
    a, b = kth.alias("a"), kth.alias("b")
    pairs = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("t1"),
        F.col("b.event_type").alias("t2"),
        F.col("a.hk").alias("hk1"),
        F.col("a.n").alias("n1"),
        F.col("b.hk").alias("hk2"),
        F.col("b.n").alias("n2"),
    )
    uni = (
        F.broadcast(pairs)
        .join(
            sk,
            (sk["event_type"] == F.col("t1")) | (sk["event_type"] == F.col("t2")),
        )
        .select("t1", "t2", "hv")
        .distinct()
    )
    w_p = W.partitionBy("t1", "t2").orderBy("hv")
    uk = (
        uni.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= KMV_K)
        .select("t1", "t2", "hv")
    )
    ukth = uk.groupBy("t1", "t2").agg(
        F.max("hv").alias("hku"), F.count("*").alias("nu")
    )
    sa = sk.select(F.col("event_type").alias("sa_t"), F.col("hv").alias("sa_h"))
    sb = sk.select(F.col("event_type").alias("sb_t"), F.col("hv").alias("sb_h"))
    rho = (
        uk.join(sa, (F.col("sa_t") == F.col("t1")) & (F.col("sa_h") == F.col("hv")))
        .join(sb, (F.col("sb_t") == F.col("t2")) & (F.col("sb_h") == F.col("hv")))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("rho"))
    )

    def est(n, hk):
        return F.when(n < KMV_K, n).otherwise(
            F.expr(f"({KMV_K - 1} * {MOD}L) div {hk}")
        )

    out = (
        pairs.join(ukth, ["t1", "t2"])
        .join(rho, ["t1", "t2"], "left")
        .withColumn("rho", F.coalesce(F.col("rho"), F.lit(0)))
        .withColumn("est_union_i", est(F.col("nu"), "hku"))
    )
    return out.select(
        "t1",
        "t2",
        est(F.col("n1"), "hk1").cast("long").alias("est_card_1"),
        est(F.col("n2"), "hk2").cast("long").alias("est_card_2"),
        F.col("est_union_i").cast("long").alias("est_union"),
        F.col("rho").cast("long").alias("rho"),
        F.expr("(rho * est_union_i) div nu").cast("long").alias("est_intersection"),
    )
