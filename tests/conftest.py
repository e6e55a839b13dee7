from __future__ import annotations

import os
import sys

import pytest

# this checkout's engine, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from memfuse_spark.session import get_spark

    s = get_spark("memfuse-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from memfuse_spark.catalog import load_tables

    return load_tables(spark, SF_DIR)
