"""Shared fixtures: one SparkSession for the whole test run, plus a
DuckDB connection with the fixture tables registered as views under
their bare names at $SPARK_GRAFT_TEST_SF_DIR (mirroring the driver's
harness)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_caffe_spark import get_spark
from pyspark_caffe_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pyspark-caffe-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def multi_rg_sf_dir(tmp_path_factory) -> str:
    """The rows of every fixture table at ``SF_DIR``, rewritten as two
    or more parquet row groups per table: the layout of a table with
    parallel scan splits, whose plans keep their exchanges
    (``tables.load_table``'s one-split rule leaves it as it is)."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("multi_rg")
    for name in TABLE_NAMES:
        t = pq.read_table(f"{SF_DIR}/{name}.parquet")
        pq.write_table(t, d / f"{name}.parquet", row_group_size=max(1, (t.num_rows + 1) // 2))
        assert pq.ParquetFile(d / f"{name}.parquet").metadata.num_row_groups >= 2, name
    return str(d)
