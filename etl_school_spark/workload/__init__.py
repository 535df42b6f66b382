"""Workload registry: every operator from SURVEY.md §2 expressed as a named
query over the driver's testdata tables, each with a DuckDB oracle twin.

Submodules contribute ``QUERIES: dict[name, fn(spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, sql]``; names missing from ORACLES get the
driver's weaker rows-only check (reserved for genuinely non-SQL ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_school_spark.workload import (
    dedupops,
    multimodalops,
    relational,
    samplingops,
    scaleops,
    similarityops,
    streamingops,
    temporalops,
    textops,
)

_MODULES = [
    relational,
    scaleops,
    temporalops,
    textops,
    dedupops,
    similarityops,
    streamingops,
    multimodalops,
    samplingops,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver verifies the FIRST 50 entries
    only, and the registry is exactly the r13-verified 50 (pinned by
    tests/test_entry.py). Later operators register as module COMPONENTS,
    oracle-checked at test time, not here."""
    out: dict[str, Callable] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
