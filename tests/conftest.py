from __future__ import annotations

import os

import duckdb
import pytest

from nomenklatura_spark.session import TESTDATA_TABLES, get_spark

SF_SMOKE = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # local[N] runs every executor thread inside the driver JVM, and the
    # package default (32g) lets the suite's heap outgrow a 15 GB machine
    # until the kernel kills the JVM mid-run; 6g runs the whole suite
    memory = os.environ.get("SPARK_DRIVER_MEMORY", "6g")
    spark = get_spark(
        "nomenklatura-spark-tests", cpus=4, shuffle_partitions=4,
        extra_conf={"spark.driver.memory": memory},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the testdata tables registered as views —
    mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
