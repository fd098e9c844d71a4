import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gdal_spark.session import get_spark  # noqa: E402


# the GDAL source tree, whose autotest/ holds the parity fixtures, is
# checked out next to this repository
REFERENCE = os.path.join(os.path.dirname(REPO), "reference")


def reference_fixture(path: str) -> str:
    """Absolute path of `path` inside the GDAL reference source tree;
    skips the calling test when the tree (or the file) is absent."""
    full = os.path.join(REFERENCE, path)
    if not os.path.exists(full):
        pytest.skip(f"{REFERENCE} fixture absent")
    return full


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdal_spark_tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
