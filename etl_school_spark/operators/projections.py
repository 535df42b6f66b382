"""Projections / filters / predicates (SURVEY.md §2.2, P1–P11).

Reference semantics (cited file:line into /root/reference/):
- P1 JSON path extraction + NULL-safe cast — A4 worksheet:224-244
- P2 flattening view over VARIANT — A4:253-269
- P7 multi-column case-insensitive search — assignment5/streamlit_buy_orders_app.py:102-111
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_path(col: str | Column, path: str, cast: str | None = None) -> Column:
    """Snowflake-style ``payload:a:b::type`` extraction on a JSON string column.

    Missing paths and failed casts yield NULL (Snowflake `::` semantics,
    A4:224-244) — `get_json_object` returns NULL on missing paths and
    `try_cast` turns bad casts into NULL instead of errors.
    """
    c = F.get_json_object(F.col(col) if isinstance(col, str) else col, path)
    if cast:
        c = c.try_cast(cast)
    return c


def flatten_struct(df: DataFrame, struct_col: str, fields: dict[str, str]) -> DataFrame:
    """P2/P3: project nested struct fields to top-level typed columns.

    ``fields`` maps nested field path (under struct_col) -> output alias.
    Mirrors the A5 dashboard's ``addr["street_address"].alias(...)`` shape
    (streamlit_buy_orders_app.py:24-46).
    """
    cols = [F.col(f"{struct_col}.{path}").alias(alias) for path, alias in fields.items()]
    others = [F.col(c) for c in df.columns if c != struct_col]
    return df.select(*others, *cols)


def search_predicate(query: str, columns: list[str]) -> Column:
    """P7's predicate: ``query`` as a case-insensitive substring of any of
    ``columns`` (A5:102-111 ``ILIKE '%q%'`` over name/email/phone/rfid)."""
    pat = f"%{query}%"
    return reduce(lambda a, b: a | b, [F.col(c).ilike(pat) for c in columns])


def multi_column_search(df: DataFrame, query: str, columns: list[str]) -> DataFrame:
    """P7: OR-chained case-insensitive substring search across columns."""
    return df.filter(search_predicate(query, columns))


def select_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """P11: user-driven column pruning (A5:322-337). Catalyst pushes the
    pruned schema all the way into the parquet scan (ReadSchema)."""
    return df.select(*[F.col(c) for c in columns])
