from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from node_etl_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
