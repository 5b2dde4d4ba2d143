from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MEDIUM = os.environ.get("SPARK_GRAFT_TEST_SF_MEDIUM", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # get_spark pins -Xms to the heap ceiling; its 8g default kept a
    # ~10 GB resident JVM through the whole suite. bench.py's sf0.1
    # sweep runs in 4g.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from dynamodb_stream_processor_2_0_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_medium() -> str:
    return SF_DIR_MEDIUM


@pytest.fixture()
def world(tmp_path):
    """A tmp sf_dir holding the planted TPC-H world (tests/planted.py)."""
    from tests import planted

    planted.write_world(tmp_path)
    return tmp_path


@pytest.fixture()
def events_dir(tmp_path):
    """A tmp sf_dir holding the planted events world (tests/planted.py)."""
    from tests import planted

    planted.write(tmp_path, "events", planted.EVENTS)
    return tmp_path
