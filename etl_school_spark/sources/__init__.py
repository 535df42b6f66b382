"""Sources / sinks / connectors (SURVEY.md §2.1)."""

from etl_school_spark.sources.readers import read_stage  # noqa: F401
from etl_school_spark.sources.writers import copy_into, export_csv, write_parquet  # noqa: F401
