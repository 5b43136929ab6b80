from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from chai_data_pipeline_spark.session import get_spark

    spark = get_spark("chai-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf001_dir():
    """The sf0.01 testdata dir next to ``SF_DIR`` (10k events), for
    tests pinned to that scale; skips when the data root has none."""
    d = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        pytest.skip(f"no sf0.01 testdata next to {SF_DIR}")
    return d


@pytest.fixture(scope="session")
def duck(sf_dir):
    from chai_data_pipeline_spark.testing import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
