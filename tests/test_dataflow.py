"""Engine-semantics tests for the input_config dataflow algebra
(reference tier 2, SURVEY §5: pipeline/data-registry/json-path unit tests)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_worker_spark.functions.json_path import json_path_array, json_path_scalar
from data_pipelines_worker_spark.operators import dataflow


def test_fan_out_semantic_index(spark):
    df = spark.createDataFrame([(1, ["a", "b", "c"])], "id int, arr array<string>")
    out = dataflow.fan_out(df, "arr", "v").select("id", "input_index", "v").collect()
    assert [(r.input_index, r.v) for r in out] == [(0, "a"), (1, "b"), (2, "c")]


def test_gather_restores_index_order_under_shuffle(spark):
    # rows arrive in arbitrary partition order; gather must sort by index
    rows = [(1, i, f"w{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "id int, input_index int, w string").repartition(8)
    out = dataflow.gather(df, ["id"], "w", out_name="arr").first().arr
    assert out == [f"w{i}" for i in range(50)]


def test_zip_merge_inner(spark):
    l = spark.createDataFrame([(1, 0, "a"), (1, 1, "b")], "id int, input_index int, x string")
    r = spark.createDataFrame([(1, 0, 10), (1, 1, 20)], "id int, input_index int, y int")
    out = dataflow.zip_merge(l, r, on=["id"]).orderBy("input_index").collect()
    assert [(r.x, r.y) for r in out] == [("a", 10), ("b", 20)]


def test_zip_merge_fill_forward_broadcasts_scalar(spark):
    # MergeMaps (block.go:404-500): scalar origin inherited by later rows
    l = spark.createDataFrame([(1, 0, "only")], "id int, input_index int, x string")
    r = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 20), (1, 2, 30)], "id int, input_index int, y int"
    )
    out = (
        dataflow.zip_merge(l, r, on=["id"], fill_forward=True)
        .orderBy("input_index")
        .collect()
    )
    assert [(r.x, r.y) for r in out] == [("only", 10), ("only", 20), ("only", 30)]


def test_coalesce_priority_order(spark):
    df = spark.createDataFrame([(None, "derived", "dflt")], "a string, b string, c string")
    out = df.select(
        dataflow.coalesce_priority(F.col("a"), F.col("b"), F.col("c")).alias("v")
    ).first()
    assert out.v == "derived"


def test_coalesce_priority_skips_unset_sources():
    # None marks a source that does not set the key; one present column
    # comes back as is, none gives None
    col = F.col("b")
    assert dataflow.coalesce_priority(None, col, None) is col
    assert dataflow.coalesce_priority(None, None) is None


def test_gather_orders_by_every_order_column(spark):
    # the runner's whole-stage gather: no group keys, a value Column,
    # ordered by (input_index, output_index)
    rows = [(i, o, f"{i}.{o}") for i in (1, 0) for o in (2, 0, 1)]
    df = spark.createDataFrame(
        rows, "input_index long, output_index long, s string"
    ).repartition(3)
    out = dataflow.gather(
        df, [], F.upper("s"), order=("input_index", "output_index"), out_name="arr"
    ).first().arr
    assert out == ["0.0", "0.1", "0.2", "1.0", "1.1", "1.2"]


def test_target_index_filters(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "input_index int")
    assert dataflow.target_index(df, 7).count() == 1


def test_json_auto_detect(spark):
    df = spark.createDataFrame(
        [("{}",), ("[1]",), ('"s"',), ("plain",), ("  {pad}",)], "v string"
    )
    out = df.select(dataflow.json_auto_detect(F.col("v")).alias("j")).collect()
    assert [r.j for r in out] == [True, True, True, False, True]


def test_json_path_scalar_and_array(spark):
    df = spark.createDataFrame(
        [('{"a": 5, "segments": [{"text": "x"}, {"text": "y"}]}',)], "j string"
    )
    assert df.select(json_path_scalar("j", "$.a").alias("v")).first().v == "5"
    arr = df.select(json_path_array("j", "$.segments[*].text").alias("v")).first().v
    assert arr == ["x", "y"]


def test_zone_map_null_only_zone_is_scanned(spark):
    # a zone whose stat column is all-NULL has NULL min/max: the scanner
    # cannot prove absence, so it must be conservatively scanned
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.operators.zonemap import (
        range_scan_flags,
        zone_maps,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (1, 7.0), (2, None), (3, 100.0)],
        "z int, x double",
    )
    maps = zone_maps(df, F.col("z"), {"x": F.col("x")})
    flags = {r.zone: r.would_scan for r in range_scan_flags(maps, "x", 10.0, 50.0).collect()}
    assert flags[1] == 0   # [5,7] entirely below 10 → skip
    assert flags[2] == 1   # NULL-only zone → conservative scan
    assert flags[3] == 0   # [100,100] at/above 50 → skip
    n = {r.zone: r.n_rows for r in maps.collect()}
    assert n == {1: 2, 2: 1, 3: 1}
