"""Batch readers (SURVEY.md §2.1 S3/S4/S11/S16/S19).

Reference semantics:
- S3  JSON-lines ingest with explicit schema (batch_insert.py:105-113)
- S11 stage load with filename-pattern pruning + outer-array strip
      (A4:208-214, A4:380-388)
- S16 publisher-side validation: bad JSON rows are captured, not dropped
      silently (simple_publish_data.py:31-41)
- S19 gzipped JSON-lines replay files (README.md:39-43) — Spark handles
      .json.gz natively through the same reader
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, corrupt_rows) of a JSON frame from
    ``read_stage``, which always carries the capture column.

    The parsed frame is cached first: Spark refuses plans over raw JSON that
    prune to only the corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and
    the ingest batch is re-read by both branches anyway. The caller releases
    it with ``df.unpersist()`` once both are consumed.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


def read_stage(
    spark: SparkSession,
    stage_dir: str,
    schema: StructType,
    fmt: str = "json",
    pattern: str | None = None,
    multi_line: bool = False,
) -> DataFrame:
    """Stage-directory read with filename-pattern pruning.

    ``pattern`` is a glob applied at file-listing time (pathGlobFilter →
    files never enter the scan, the Spark analog of COPY INTO's
    ``pattern`` regex, A4:387). ``multi_line`` handles whole-array JSON
    files (strip_outer_array, A4:208-210): Spark's multiLine mode parses a
    top-level array into one row per element.

    A JSON read always captures corrupt records (S16): ``_corrupt_record``
    is added to ``schema`` when it is missing, and lines that fail to parse
    land there (PERMISSIVE mode) instead of loading as all-NULL rows or
    failing the read; ``split_corrupt`` separates them.
    """
    if fmt == "json" and CORRUPT_COL not in schema.fieldNames():
        schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    reader = spark.read.schema(schema)
    if pattern:
        reader = reader.option("pathGlobFilter", pattern)
    if fmt == "json":
        reader = reader.option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", CORRUPT_COL)
        if multi_line:
            reader = reader.option("multiLine", True)
        return reader.json(stage_dir)
    if fmt == "parquet":
        return reader.parquet(stage_dir)
    raise ValueError(f"unsupported stage format: {fmt}")


def conform_to_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Schema-evolution shim: project ``df`` onto ``schema`` by column NAME
    — missing columns become typed NULLs, extra columns are dropped, and
    present columns are cast to the declared type. This is the engine's
    ``MATCH_BY_COLUMN_NAME`` (batch_insert.py:71-73): producers may add or
    reorder fields without breaking the load; consumers always see the
    declared shape (``unionByName(allowMissingColumns)`` semantics made
    explicit and cast-safe)."""
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
