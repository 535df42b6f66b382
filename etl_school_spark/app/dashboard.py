"""Interactive-analytics query API — the A5 Streamlit/Snowpark dashboard's
query surface re-expressed over PySpark (SURVEY.md §3.3).

Same lifecycle as the reference: build ONE filtered frame, then derive every
panel (metrics, top-N breakdowns, preview, export) from it. A5 caches that
frame for the session (``st.cache_resource``/``st.cache_data``); here a
module-level memo does the same for one base DataFrame at a time:

- ``filter_options`` results, per column, computed once per base;
- an LRU of ``FRAME_LRU_SIZE`` filtered frames, each ``persist()``ed and
  keyed on the canonical filter set (the builder methods record plain
  tuples). The first panel of a filter set scans and joins the base; every
  later panel, and every later request with the same filter set, reads the
  cached rows. An evicted frame is unpersisted.

A Dashboard therefore serves a *snapshot* of its base: a filter set's rows
are read once and reused while its frame stays in the LRU, and filter
options are read once; rewritten files go unnoticed. To see new data, build
a new base DataFrame and pass it to a new Dashboard. A Dashboard over a
different base object unpersists every frame held for the previous one —
Spark's CacheManager matches plans by path, so a fresh base over rewritten
files would otherwise be served the old base's cached rows.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_school_spark.operators.aggregates import dsum
from etl_school_spark.operators.projections import search_predicate
from etl_school_spark.operators.sorts import top_k
from etl_school_spark.sources.writers import export_csv

FRAME_LRU_SIZE = 16


class _BaseMemo:
    """What the app keeps for one base DataFrame (guarded by ``_LOCK``)."""

    def __init__(self, base: DataFrame | None):
        self.base = base
        self.options: dict[str, list] = {}
        self.frames: OrderedDict[tuple[str, ...], DataFrame] = OrderedDict()

    def release(self) -> None:
        for df in self.frames.values():
            df.unpersist()
        self.frames.clear()
        self.options.clear()


_LOCK = threading.Lock()
_MEMO = _BaseMemo(None)


def _memo_for(base: DataFrame) -> _BaseMemo:
    """The memo of ``base``, replacing (and releasing) any other base's.
    Call with ``_LOCK`` held."""
    global _MEMO
    if _MEMO.base is not base:
        _MEMO.release()
        _MEMO = _BaseMemo(base)
    return _MEMO


def _predicate(f: tuple) -> Column:
    """The Column for one recorded filter tuple."""
    kind, col, arg = f
    if kind == "isin":
        return F.col(col).isin(list(arg))
    if kind == "ge":
        return F.col(col) >= arg
    if kind == "le":
        return F.col(col) <= arg
    if kind == "time_ge":
        return F.col(col) >= F.to_timestamp(F.lit(arg)).cast("timestamp_ntz")
    if kind == "time_lt":
        return F.col(col) < F.to_timestamp(F.lit(arg)).cast("timestamp_ntz")
    if kind == "search":  # col: the searchable columns, arg: the query
        return search_predicate(arg, list(col))
    raise ValueError(f"unknown filter kind: {kind}")


class Dashboard:
    """Filterable analytics over a fact table (A5:18-117), served from the
    module memo: a snapshot of ``df`` (see the module docstring)."""

    def __init__(self, df: DataFrame, measure_col: str, searchable_cols: list[str]):
        self.base = df
        self.measure = measure_col
        self.searchable = searchable_cols
        self._filters: list[tuple] = []
        with _LOCK:
            _memo_for(df)

    # -- filter builders (A5:72-112) ---------------------------------------
    def filter_isin(self, col: str, values: list) -> "Dashboard":
        if values:
            self._filters.append(("isin", col, tuple(values)))
        return self

    def filter_range(self, col: str, lo=None, hi=None) -> "Dashboard":
        if lo is not None:
            self._filters.append(("ge", col, lo))
        if hi is not None:
            self._filters.append(("le", col, hi))
        return self

    def filter_time(self, col: str, start: str | None, end_exclusive: str | None) -> "Dashboard":
        if start:
            self._filters.append(("time_ge", col, start))
        if end_exclusive:
            self._filters.append(("time_lt", col, end_exclusive))
        return self

    def search(self, query: str) -> "Dashboard":
        if query:
            self._filters.append(("search", tuple(self.searchable), query))
        return self

    def filtered(self) -> DataFrame:
        """The persisted frame of this filter set (built on first use)."""
        # filters are ANDed, so their order does not matter; reprs keep
        # 1, 1.0 and True apart, which tuple equality would not
        key = tuple(sorted({repr(f) for f in self._filters}))
        with _LOCK:
            memo = _memo_for(self.base)
            df = memo.frames.get(key)
            if df is not None:
                memo.frames.move_to_end(key)
                return df
            df = self.base
            if self._filters:
                df = df.filter(reduce(lambda a, b: a & b, map(_predicate, self._filters)))
            memo.frames[key] = df = df.persist()
            if len(memo.frames) > FRAME_LRU_SIZE:
                memo.frames.popitem(last=False)[1].unpersist()
            return df

    # -- panels (A5:130-163, 227-260) ---------------------------------------
    def filter_options(self, col: str) -> list:
        """Distinct sorted values for a filter widget (A5:51-57); computed
        once per base, whatever the filters."""
        with _LOCK:
            memo = _memo_for(self.base)
            opts = memo.options.get(col)
        if opts is None:
            opts = [r[0] for r in self.base.select(col).distinct().orderBy(col).collect()]
            with _LOCK:
                memo.options[col] = opts
        return list(opts)

    def metrics(self) -> dict:
        """Headline stat tiles: row count, measure sum/avg, distinct keys."""
        row = self.filtered().agg(
            F.count(F.lit(1)).alias("n"),
            dsum(self.measure).alias("total"),
            (dsum(self.measure) / F.count(F.lit(1))).alias("avg"),
        ).collect()[0]
        return {"rows": row.n, "total": row.total, "avg": row.avg}

    def top_breakdown(self, by: str, n: int = 10) -> DataFrame:
        agged = self.filtered().groupBy(by).agg(
            F.count(F.lit(1)).alias("n"), dsum(self.measure).alias("total")
        )
        return top_k(agged, [F.desc("n"), by], n)

    def preview(self, columns: list[str] | None = None, limit: int = 100) -> DataFrame:
        df = self.filtered()
        if columns:
            df = df.select(*columns)
        return df.limit(limit)

    def export(self, columns: list[str] | None = None, limit: int = 10000) -> str:
        return export_csv(self.preview(columns, limit))
