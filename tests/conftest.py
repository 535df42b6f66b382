from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_school_spark.session import get_spark

    spark = get_spark("etl-school-spark-tests", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from tools.check_oracle import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "kafka: end-to-end tests against a REAL Kafka broker — run only "
        "when KAFKA_BOOTSTRAP is set and the spark-sql-kafka connector "
        "is on the classpath (skipped otherwise)",
    )


@pytest.fixture
def durable_checkpoints(spark, tmp_path):
    """Durable-checkpoint mode: ``spark.etl_school.checkpoint_dir`` points
    at ``tmp_path``, so every ``operator_leaf`` truncation writes a reliable
    checkpoint there, until teardown unsets it. Yields the directory. A test
    that first needs local-mode results takes it mid-test with
    ``request.getfixturevalue("durable_checkpoints")``."""
    key = "spark.etl_school.checkpoint_dir"
    spark.conf.set(key, str(tmp_path))
    yield tmp_path
    spark.conf.unset(key)


@pytest.fixture
def probe_memo():
    """The engine's one plan-keyed probe memo (``tables._PROBE_MEMO``),
    emptied so a test sees its own probes only. Yields the dict; a test
    that needs a second cold start mid-test calls ``.clear()`` on it."""
    from etl_school_spark.tables import _PROBE_MEMO

    _PROBE_MEMO.clear()
    yield _PROBE_MEMO
