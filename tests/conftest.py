import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from algebraicdb_spark.session import get_spark

    # one core and one shuffle partition per CPU the run was given
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("pytest", cpus=str(cpus), shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from algebraicdb_spark.sources.catalog import load_tables

    return load_tables(spark, sf_dir)
