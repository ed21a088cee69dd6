from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
#: Correctness tests default to the smallest SF for speed; set
#: AURAVERSE_TEST_SF=sf0.01 to run them at the driver's correctness SF.
TEST_SF = os.environ.get("AURAVERSE_TEST_SF", "sf0.001")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.path.join(TESTDATA_ROOT, TEST_SF)


@pytest.fixture(scope="session")
def spark():
    from auraverse_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="auraverse-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A fault-tolerant SparkContext checkpoint dir for one test, so
    every ``cut`` writes reliable checkpoints there. Teardown restores
    the suite default (no dir: local checkpoints) for later tests."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    path = str(tmp_path / "ckpt")
    sc.setCheckpointDir(path)
    yield path
    sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with every testdata table registered as a view
    (mirrors the driver's oracle environment)."""
    import duckdb

    from auraverse_etl_pipeline_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
