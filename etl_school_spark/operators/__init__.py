"""Relational operator layer (SURVEY.md §2.2–2.8).

Composable DataFrame functions; every operator is a pure lazy
transformation so Catalyst sees the whole plan (pushdown, pruning, join
selection, top-K). No collects, no RDDs.
"""

from etl_school_spark.operators.aggregates import (  # noqa: F401
    dsum,
    having,
    ratio_to_total,
)
from etl_school_spark.operators.joins import (  # noqa: F401
    dim_join,
    three_sigma_outliers,
)
from etl_school_spark.operators.projections import (  # noqa: F401
    json_path,
    multi_column_search,
)
from etl_school_spark.operators.setops import labelled_counts, values_table  # noqa: F401
from etl_school_spark.operators.sorts import top_k  # noqa: F401
from etl_school_spark.operators.windows import latest_per_group  # noqa: F401
