"""Aggregations (SURVEY.md §2.4, A1–A14).

Money/measure aggregation policy: sums of doubles are order-dependent in
the last ULPs (both Spark and any oracle engine sum in nondeterministic
partition order), so all financial aggregates here go through exact
decimal arithmetic (`dsum`): cast each value to a fixed-scale
decimal, sum exactly (associative), then cast the exact result to double.
This makes results bit-identical across engines and across partitionings —
which also means the engine's own results are reproducible run-to-run at
any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dsum(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    """Exact, order-independent sum of a measure column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def having(df: DataFrame, group_cols: list[str], agg_col: Column, pred) -> DataFrame:
    """A8: GROUP BY … HAVING (A4:738-742 duplicate detection) —
    groupBy + agg + filter; Catalyst folds the filter into the agg."""
    agged = df.groupBy(*group_cols).agg(agg_col)
    return agged.filter(pred)


def ratio_to_total(
    df: DataFrame, group_cols: list[str], count_alias: str = "n", pct_alias: str = "pct"
) -> DataFrame:
    """W1/J3: per-group count with percent-of-total
    (A4:489-492 ``100*count(*)/sum(count(*)) over ()``).

    Uses an empty-partition window over the *aggregated* frame (one row per
    group), so the window sees #groups rows, not #input rows — cheap at any
    scale.
    """
    from pyspark.sql.window import Window

    agged = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(count_alias))
    total = F.sum(F.col(count_alias)).over(Window.partitionBy())
    return agged.withColumn(pct_alias, F.round(100.0 * F.col(count_alias) / total, 2))

