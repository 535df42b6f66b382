"""Driver-contract smoke tests: entry(), queries(), oracle_sql() shape."""

from __future__ import annotations

import __spark_entry__ as e
from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"o_orderpriority", "order_count"}


def test_queries_registry_shape():
    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 20
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_first_50_slots_are_the_r13_verified_set():
    """The driver verifies only the FIRST 50 entries of queries().
    r14 added two queries mid-registry and silently displaced two
    verified sampling queries past that cutoff (VERDICT r14 item 1).
    Pin the WHOLE registry to the r13 CORRECTNESS key set: a new
    registration fails here instead of falling outside the driver's
    window (new operators register as module COMPONENTS instead)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "CORRECTNESS_r13.json")
    verified = set(json.load(open(path)))
    registry = list(e.queries())
    assert set(registry) == verified, (
        f"missing from the registry: {sorted(verified - set(registry))}; "
        f"intruders: {sorted(set(registry) - verified)}"
    )


def test_all_queries_execute(spark):
    for name, fn in e.queries().items():
        df = fn(spark, SF_SMOKE)
        n = df.count()
        assert n >= 0, name


def test_oracle_parity_smoke(spark, duck):
    """Exact value parity vs DuckDB at sf0.001 (the driver gate runs sf0.01).
    Every registered query has an oracle, so this also executes (collects)
    the whole registry."""
    from tools.check_oracle import compare

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(qs) == set(oracles), set(qs) ^ set(oracles)
    failures = {}
    for name, sql in oracles.items():
        spark_pdf = qs[name](spark, SF_SMOKE).toPandas()
        duck_pdf = duck.execute(sql).fetchdf()
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures[name] = problems
    assert not failures, failures


def test_component_oracle_parity(spark, duck):
    """The consolidated suites surface whole families to the driver; this
    keeps each COMPONENT exact-checked individually, so a suite-level
    projection bug can't mask a component-level value regression. The
    textops components (doc_chunks, text_pii_scrub) sit in no suite and
    no registry; this is their oracle check."""
    from etl_school_spark.workload import dedupops, relational, scaleops, similarityops, textops
    from tools.check_oracle import compare

    failures = {}
    for mod in (dedupops, relational, scaleops, similarityops, textops):
        for name, sql in mod.COMPONENT_ORACLES.items():
            spark_pdf = mod.COMPONENTS[name](spark, SF_SMOKE).toPandas()
            duck_pdf = duck.execute(sql).fetchdf()
            problems = compare(name, spark_pdf, duck_pdf)
            if problems:
                failures[name] = problems
    assert not failures, failures
