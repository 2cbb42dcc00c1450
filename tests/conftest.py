from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# get_spark's default heap (24g) is sized for sf0.1 benches. The suite
# runs at sf0.001, and the verify_oracle subprocesses some tests start
# inherit this environment. Observed on a 16 GB host: with 24g the session
# JVM grew past 5 GB, and next to a hostile-corpus oracle run (its own JVM
# plus DuckDB) the host ran out of memory and the kernel killed the
# session JVM, failing every later test.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    from demo_etl_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from demo_etl_spark.io import load_star

    return load_star(spark, sf_dir)
