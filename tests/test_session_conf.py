"""``session.shuffle_partitions`` on a stub session and ``session.result_budget``:
no Spark needed."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from data_pipelines_worker_spark.session import result_budget, shuffle_partitions


def _stub(value: str):
    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": value}[key]),
        sparkContext=SimpleNamespace(defaultParallelism=5),
    )


@pytest.mark.parametrize("value, want", [("12", 12), ("auto", 5), ("", 5)])
def test_shuffle_partitions(value, want):
    assert shuffle_partitions(_stub(value)) == want


@pytest.mark.parametrize(
    "driver_mem, want",
    [("24g", "6144m"), ("4g", "1024m"), ("512m", "128m"), ("2048", "512m"), ("1t", "262144m"),
     ("2k", "1m"), ("lots", "1g")],
)
def test_result_budget(driver_mem, want):
    assert result_budget(driver_mem) == want
