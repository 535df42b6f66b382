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


def search_predicate(query: str, columns: list[str]) -> Column:
    """P7's predicate: ``query`` as a case-insensitive substring of any of
    ``columns`` (A5:102-111 ``ILIKE '%q%'`` over name/email/phone/rfid)."""
    pat = f"%{query}%"
    return reduce(lambda a, b: a | b, [F.col(c).ilike(pat) for c in columns])


def multi_column_search(df: DataFrame, query: str, columns: list[str]) -> DataFrame:
    """P7: OR-chained case-insensitive substring search across columns."""
    return df.filter(search_predicate(query, columns))

