import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))  # fixtures_poly importable
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from gdal_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def gdal_ref(rel: str) -> str:
    """Path of a GDAL autotest reference file, by the gates' own lookup:
    raises FileNotFoundError naming the path when the reference checkout
    does not have it."""
    from __spark_entry__ import _gdal_ref

    return _gdal_ref(rel)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "gdal_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
