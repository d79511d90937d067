from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite runs in one process: cap the JVM heap well below a 16 GB host's
# memory (session.py's default is 16g), as perfbench/run.py does with 2g.
# Cached frames past the cap are evicted or spilled, not kept.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from spark_multiboost_spark.session import get_spark

    s = get_spark("smb-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
