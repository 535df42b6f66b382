"""Session helpers: Arrow-built driver-side frames."""

from __future__ import annotations

import datetime


def test_local_frame_is_a_local_relation_and_round_trips(spark):
    from pyspark.sql.types import StructType

    from etl_school_spark.session import local_frame
    from tests.jobcount import count_jobs

    ddl = "s string, n long, d double, ts timestamp_ntz, e string"
    rows = [
        ("a", 1, 1.5, datetime.datetime(2024, 2, 29, 23, 59, 59, 123456), None),
        (None, None, None, None, "x"),
    ]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = local_frame(spark, rows, ddl)
        assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
        with count_jobs(spark) as jobs:
            got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == rows  # nulls and timestamp_ntz wall-clock values intact
    assert jobs.n == 0
    assert df.schema == StructType.fromDDL(ddl)

    empty = local_frame(spark, [], df.schema)
    assert empty.schema == df.schema and empty.collect() == []
