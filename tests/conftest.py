from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"

#: The reference worker's shipped pipeline JSONs, in its checkout beside this
#: repository. They are not part of this repo; the tests that run them go
#: through the ``reference_pipelines`` fixture and skip when it is absent.
REFERENCE_PIPELINES = (
    Path(__file__).resolve().parents[2] / "reference" / "config" / "pipelines"
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from data_pipelines_worker_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def reference_pipelines() -> Path:
    if not REFERENCE_PIPELINES.is_dir():
        pytest.skip("reference pipeline JSONs not mounted")
    return REFERENCE_PIPELINES
