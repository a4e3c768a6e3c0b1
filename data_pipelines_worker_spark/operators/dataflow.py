"""The inter-block dataflow algebra — the reference's real "relational" ops.

Reference: types/dataclasses/block.go:193-401 (GetInputConfigData) and
types/dataclasses/pipeline.go:204-635. SURVEY §2.2 maps each to a Spark
primitive; this module is that mapping as reusable plan builders, and the
only implementation of it: the production caller is
``plans.compiler.PipelineRunner``, which builds every block's inputs from
these functions (fan-out, the MergeMaps positional merge, the
``array_input`` gather, input priority, the target index); the
``dataflow_queries`` catalogue entries gate the same functions against
DuckDB oracles, and ``stage_store.sniff_mime`` takes its JSON test from
``json_auto_detect``.

Scale notes (100 TB):

- ``fan_out``/``gather`` shuffle only on the grouping key; gather uses
  ``sort_array(collect_list(struct(idx,val)))`` so ordering is deterministic
  without a global sort.
- ``zip_merge`` joins exploded frames on position; both sides are
  co-partitioned by (row key) so AQE turns it into a local join after the
  first shuffle.
- ``target_index`` is a plain predicate → parquet partition/row-group
  pruning does the skipping for free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def fan_out(df: DataFrame, array_col: str | Column, value_name: str, index_name: str = "input_index") -> DataFrame:
    """Array → one row per element, with semantic 0-based ``input_index``.

    Reference: block.go:245-254 + pipeline.go:358-377 (fan-out of a JSONPath
    array or multi-buffer origin into per-index processings).
    """
    col = F.col(array_col) if isinstance(array_col, str) else array_col
    return df.select("*", F.posexplode(col).alias(index_name, value_name))


def fan_out_buffers(
    df: DataFrame, arr: Column, value_name: str, index_col: str = "input_index"
) -> DataFrame:
    """Fan-out over the concatenation of every buffer's array:
    DataFrame(``index_col``, ``value_name``), one row per element.

    Reference: block.go:245-254,348-359 — a wildcard JSONPath over a
    multi-buffer origin numbers its matches across all buffers, in buffer
    order. The running index is offset(buffer) + position-within-buffer:
    the only unpartitioned window runs over the one-row-per-buffer size
    table (control-plane cardinality), never over the fan-out rows
    themselves — no single-task funnel however wide the fan-out gets.
    """
    sizes = df.select(
        F.col(index_col).alias("src_idx"),
        F.greatest(F.size(arr), F.lit(0)).alias("__n"),
    )
    w = W.orderBy("src_idx").rowsBetween(W.unboundedPreceding, -1)
    offsets = sizes.select(
        "src_idx",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"),
    )
    exploded = df.select(
        F.col(index_col).alias("src_idx"),
        F.posexplode(arr).alias("pos", value_name),
    )
    return exploded.join(F.broadcast(offsets), "src_idx").select(
        (F.col("__off") + F.col("pos")).cast("long").alias(index_col),
        value_name,
    )


def gather(
    df: DataFrame,
    group_cols: Sequence[str],
    value: str | Column,
    order: Sequence[str] = ("input_index",),
    out_name: str = "gathered",
) -> DataFrame:
    """Collect all elements of a group back into an array ordered by the
    ``order`` columns.

    Reference: ``array_input: true`` passes *all* output buffers of the
    origin as one array value, in output order (block.go:274-276, 306-336;
    used by join_videos / join_strings). Go's ordering is implicit slice
    order; here it is made explicit: ``sort_array(collect_list(struct))`` —
    deterministic under any partitioning, no global sort, map-side partial
    aggregation applies. The pipeline runner gathers a whole stage (no
    group keys) in (input_index, output_index) order.
    """
    v = F.col(value) if isinstance(value, str) else value
    pair = F.struct(*[F.col(c) for c in order], v.alias("v"))
    agg = F.transform(F.sort_array(F.collect_list(pair)), lambda s: s["v"]).alias(out_name)
    return df.groupBy(*group_cols).agg(agg)


def zip_merge(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    index_col: str = "input_index",
    fill_forward: bool = False,
) -> DataFrame:
    """Positional zip of two fanned-out frames (MergeMaps' aligned case).

    Reference: block.go:404-500 (MergeMaps) — rows from multiple origins are
    merged positionally. A scalar (single-row) origin zipped against an
    N-row origin broadcasts to every index ("missing keys inherited from
    previous row"); ``fill_forward=True`` reproduces that inherit rule via a
    full-outer join + last-value window.

    Spark: equi-join on (row keys, input_index). Both sides arrive
    hash-partitioned on the same key so this is one co-located shuffle.
    With no row keys (the pipeline runner's merge of one block's origins)
    the fill-forward window is unpartitioned by design: inherit-from-
    previous-row is a sequential recurrence over the run's input indices,
    whose cardinality is the block's fan-out width (segments of one media
    file, buffers of one processing) — control-plane scale, not table
    scale. Table-scale fan-out never routes through MergeMaps (it has a
    single origin, no merge).
    """
    keys = [*on, index_col]
    if not fill_forward:
        return left.join(right, keys, "inner")
    joined = left.join(right, keys, "full_outer")
    value_cols = [c for c in joined.columns if c not in keys]
    w = W.partitionBy(*on).orderBy(index_col).rowsBetween(W.unboundedPreceding, 0)
    filled = [F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in value_cols]
    return joined.select(*keys, *filled)


def coalesce_priority(*cols: Column | None) -> Column | None:
    """Input priority: request input > derived input > static default.

    Reference: pipeline.go:281-305 (GetInputDataByPriority — first writer
    wins per key) ⇒ ``F.coalesce`` in priority order. ``None`` stands for
    a source that does not set the key; a lone present column is returned
    as is, and no present column gives ``None``.
    """
    present = [c for c in cols if c is not None]
    if len(present) <= 1:
        return present[0] if present else None
    return F.coalesce(*present)


def target_index(df: DataFrame, index: int, index_col: str = "input_index") -> DataFrame:
    """Resume/regenerate with ``target_index`` processes exactly one index.

    Reference: pipeline.go:358-377; schemas/pipelines.go:71-75. A plain
    predicate — Catalyst pushes it into the stage-parquet scan (partition /
    row-group pruning), so the skipped indices are never read.
    """
    return df.where(F.col(index_col) == F.lit(index))


def json_auto_detect(col: Column) -> Column:
    """Reference block.go:502-519 (HandleResultValue): a buffer starting
    with ``{``, ``[`` or ``"`` is treated as JSON, else as a plain string.
    Returns a boolean column; callers branch with ``F.when``."""
    return F.regexp_like(F.ltrim(col), F.lit(r'^[\[{"]'))


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    aggs: dict[str, Column],
    salt_col: str | Column,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation for hot grouping keys.

    A single ``groupBy(key)`` over a skewed key (a handful of values
    covering billions of rows) funnels each hot key through ONE reducer
    task regardless of cluster size. Salting splits every key into
    ``n_salts`` sub-groups keyed by a *deterministic* per-row salt
    (``xxhash64(salt_col) % n_salts`` — no ``rand()``, so replays and
    oracle comparisons are stable), partially aggregates each sub-group,
    then re-aggregates the ``n_salts`` partials per key — both shuffles
    are skew-free.

    ``aggs`` maps output name → a sum-recombinable aggregate (``sum``,
    ``count``) over the input columns; stage 2 re-combines the partials
    with ``sum`` — the common skew case. Aggregates whose partials do NOT
    recombine with sum (avg, min, max, distinct counts, ...) are rejected
    at plan-build time rather than silently mis-combined; decompose them
    yourself (avg = salted sum + salted count, joined) or extend the
    combiner table.

    Note Spark's own partial aggregation (map-side combine) already handles
    skew for algebraic aggregates when data is *randomly* distributed; the
    salt matters when upstream partitioning is correlated with the hot key
    (e.g. ingest partitioned by tenant), which is the realistic 100 TB
    failure mode. AQE skew-join handles join skew; this handles
    aggregation skew.
    """
    for name, expr in aggs.items():
        # Column reprs look like "Column<'sum(x)'>"; anything not rooted at
        # sum()/count() has partials that sum() cannot recombine.
        desc = str(expr)
        body = desc[len("Column<'") : -len("'>")] if desc.startswith("Column<'") else desc
        if not (body.startswith("sum(") or body.startswith("count(")):
            raise ValueError(
                f"salted_agg[{name}]: only sum()/count() partials recombine "
                f"with sum; got {body!r}. Decompose the aggregate (e.g. avg "
                "= sum+count) instead."
            )
    salt = F.pmod(
        F.xxhash64(F.col(salt_col) if isinstance(salt_col, str) else salt_col),
        F.lit(n_salts),
    ).alias("__salt")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(*[expr.alias(f"__p_{name}") for name, expr in aggs.items()])
    )
    return partial.groupBy(*key_cols).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in aggs]
    )
