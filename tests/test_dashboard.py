"""app.Dashboard's memo: panels served from persisted filtered frames and
memoized filter options must equal a recomputation from the source rows,
stay fresh across a new base, stay bounded, and hold up under threads."""

from __future__ import annotations

import csv
import io
import os
import random
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta
from decimal import Decimal

import pytest

from tests.jobcount import count_jobs

MEASURE = "l_extendedprice"
SEARCHABLE = ["c_name", "n_name"]
BREAKDOWNS = ("n_name", "c_name")
PREVIEW_COLS = ["l_orderkey", "l_linenumber", "c_name", "n_name", "o_orderdate", MEASURE]
PREVIEW_LIMIT, EXPORT_LIMIT = 5, 8

SCHEMAS = {
    "nation": "n_nationkey int, n_name string",
    "customer": "c_custkey int, c_name string, c_nationkey int, c_mktsegment string",
    "orders": "o_orderkey int, o_custkey int, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey int, l_linenumber int, l_quantity int, l_extendedprice double",
}

# filter sets: builder calls in the order a request makes them
ALL4 = [
    ("filter_isin", "c_mktsegment", ["AUTOMOBILE", "BUILDING"]),
    ("filter_isin", "o_orderpriority", ["1-URGENT", "2-HIGH"]),
    ("filter_range", "l_quantity", 5, 45),
    ("filter_time", "o_orderdate", "1995-03-01", "1996-09-01"),
]
NAMED = [
    ("filter_isin", "c_mktsegment", ["MACHINERY", "BUILDING"]),
    ("filter_range", "l_quantity", 10, None),
    ("search", "customer#00000001"),
]
EMPTY = [("filter_range", "l_quantity", 1000, None)]


def _star_rows(seed: int, nations: list[str]) -> dict[str, list[tuple]]:
    rng = random.Random(seed)
    customer = [
        (k, f"Customer#{k:09d}", k % len(nations), rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"]))
        for k in range(1, 21)
    ]
    orders = [
        (k, rng.randint(1, 20), datetime(1995, 1, 1) + timedelta(days=rng.randrange(730)),
         rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]))
        for k in range(1, 61)
    ]
    lineitem = [
        (o, ln, rng.randint(1, 50), round(rng.uniform(900, 105000), 2))
        for o in range(1, 61)
        for ln in range(1, rng.randint(1, 4) + 1)
    ]
    return {"nation": list(enumerate(nations)), "customer": customer, "orders": orders, "lineitem": lineitem}


def _write_star(root: str, tables: dict[str, list[tuple]]) -> dict[str, str]:
    """One parquet file per table, replacing whatever the table dir held
    (written with pyarrow: a Spark write costs seconds per table)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow = {"int": pa.int32(), "string": pa.string(), "timestamp_ntz": pa.timestamp("us"), "double": pa.float64()}
    paths = {}
    for t, rows in tables.items():
        cols = [c.split() for c in SCHEMAS[t].split(", ")]
        table = pa.table({name: pa.array([r[i] for r in rows], arrow[ty]) for i, (name, ty) in enumerate(cols)})
        paths[t] = os.path.join(root, t)
        shutil.rmtree(paths[t], ignore_errors=True)
        os.makedirs(paths[t])
        pq.write_table(table, os.path.join(paths[t], f"part-{uuid.uuid4().hex}.parquet"))
    return paths


def _read_base(spark, paths: dict[str, str]):
    li, o = spark.read.parquet(paths["lineitem"]), spark.read.parquet(paths["orders"])
    c, n = spark.read.parquet(paths["customer"]), spark.read.parquet(paths["nation"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
    )


def _joined(tables: dict[str, list[tuple]]) -> list[dict]:
    """The base join, in Python."""
    cols = {t: [c.split()[0] for c in s.split(", ")] for t, s in SCHEMAS.items()}
    by_key = {t: {r[0]: dict(zip(cols[t], r)) for r in tables[t]} for t in ("orders", "customer", "nation")}
    out = []
    for r in tables["lineitem"]:
        row = dict(zip(cols["lineitem"], r))
        row |= by_key["orders"][row["l_orderkey"]]
        row |= by_key["customer"][row["o_custkey"]]
        row |= by_key["nation"][row["c_nationkey"]]
        out.append(row)
    return out


def _keep(row: dict, call: tuple) -> bool:
    name, *args = call
    if name == "filter_isin":
        col, values = args
        return not values or row[col] in values
    if name == "filter_range":
        col, lo, hi = args
        return (lo is None or row[col] >= lo) and (hi is None or row[col] <= hi)
    if name == "filter_time":
        col, start, end = args
        return datetime.fromisoformat(start) <= row[col] < datetime.fromisoformat(end)
    (q,) = args
    return any(q.lower() in row[c].lower() for c in SEARCHABLE)


def _expected(rows: list[dict], calls: list[tuple]) -> dict:
    """Every panel recomputed from the source rows, with no Spark at all
    (``dsum`` is an exact decimal(18,2) sum cast to double)."""
    sel = [r for r in rows if all(_keep(r, c) for c in calls)]
    total = float(sum(Decimal(repr(r[MEASURE])) for r in sel)) if sel else None
    out = {
        "options": sorted({r["n_name"] for r in rows}),
        "metrics": {"rows": len(sel), "total": total, "avg": None if total is None else total / len(sel)},
        "rows": {tuple(r[c] for c in PREVIEW_COLS) for r in sel},
    }
    for by in BREAKDOWNS:
        groups: dict = {}
        for r in sel:
            n, t = groups.get(r[by], (0, Decimal(0)))
            groups[r[by]] = (n + 1, t + Decimal(repr(r[MEASURE])))
        out[f"top_{by}"] = sorted(((k, n, float(t)) for k, (n, t) in groups.items()), key=lambda x: (-x[1], x[0]))[:10]
    return out


def _dashboard(base, calls: list[tuple]):
    from etl_school_spark.app import Dashboard

    d = Dashboard(base, MEASURE, SEARCHABLE)
    for name, *args in calls:
        getattr(d, name)(*args)
    return d


def _request(base, calls: list[tuple]) -> dict:
    d = _dashboard(base, calls)
    out = {"options": d.filter_options("n_name"), "metrics": d.metrics()}
    for by in BREAKDOWNS:
        out[f"top_{by}"] = [tuple(r) for r in d.top_breakdown(by, 10).collect()]
    out["preview"] = [tuple(r) for r in d.preview(PREVIEW_COLS, PREVIEW_LIMIT).collect()]
    out["export"] = list(csv.DictReader(io.StringIO(d.export(PREVIEW_COLS, EXPORT_LIMIT))))
    return out


def _assert_matches(got: dict, want: dict) -> None:
    for k in ("options", "metrics", *(f"top_{by}" for by in BREAKDOWNS)):
        assert got[k] == want[k], k
    n = want["metrics"]["rows"]
    assert len(got["preview"]) == min(n, PREVIEW_LIMIT)
    assert set(got["preview"]) <= want["rows"]
    assert len(got["export"]) == min(n, EXPORT_LIMIT)
    keys = {(int(r["l_orderkey"]), int(r["l_linenumber"])) for r in got["export"]}
    assert len(keys) == len(got["export"]) and keys <= {r[:2] for r in want["rows"]}


@pytest.fixture(scope="module")
def star(spark, tmp_path_factory):
    tables = _star_rows(7, ["ALGERIA", "BRAZIL", "CANADA", "EGYPT", "FRANCE"])
    paths = _write_star(str(tmp_path_factory.mktemp("star")), tables)
    return _read_base(spark, paths), _joined(tables)


def test_panels_match_uncached_recomputation(star):
    """First-seen and repeated filter sets, an empty result, the name
    search, no filters, and a repeat built in another order."""
    base, rows = star
    for calls in (ALL4, NAMED, ALL4, EMPTY, [], NAMED[::-1], EMPTY, []):
        _assert_matches(_request(base, calls), _expected(rows, calls))


def test_new_base_over_rewritten_files_is_fresh(spark, tmp_path):
    old_tables = _star_rows(11, ["ALGERIA", "BRAZIL", "CANADA"])
    paths = _write_star(str(tmp_path), old_tables)
    old_base = _read_base(spark, paths)
    _assert_matches(_request(old_base, ALL4), _expected(_joined(old_tables), ALL4))

    new_tables = _star_rows(12, ["KENYA", "PERU", "JAPAN", "IRAN"])
    _write_star(str(tmp_path), new_tables)
    new_base = _read_base(spark, paths)
    want = _expected(_joined(new_tables), ALL4)
    d = _dashboard(new_base, ALL4)
    assert d.filter_options("n_name") == want["options"]
    assert d.metrics() == want["metrics"]
    # the old base object is still alive: freshness must not rest on it
    # being garbage-collected
    assert old_base.columns == new_base.columns


def test_frame_lru_is_bounded(star):
    from pyspark import StorageLevel

    from etl_school_spark.app.dashboard import FRAME_LRU_SIZE

    base, _ = star

    def frame(k):
        return _dashboard(base, [("filter_range", "l_quantity", 100 + k, None)]).filtered()

    frames = [frame(k) for k in range(FRAME_LRU_SIZE)]
    frame(0)  # a hit: frame 0 becomes the most recently used
    frames += [frame(k) for k in range(FRAME_LRU_SIZE, FRAME_LRU_SIZE + 3)]
    persisted = [f.storageLevel != StorageLevel.NONE for f in frames]
    assert persisted == [True] + [False] * 3 + [True] * (FRAME_LRU_SIZE - 1)


def test_concurrent_requests_on_one_base(star):
    base, rows = star
    sets = [ALL4[1:], NAMED, ALL4[1:], ALL4[:2] + NAMED[2:]]
    with ThreadPoolExecutor(len(sets)) as pool:
        got = list(pool.map(lambda calls: _request(base, calls), sets))
    for calls, g in zip(sets, got):
        _assert_matches(g, _expected(rows, calls))


def test_memo_bookkeeping_under_thread_stress(star):
    """More threads than cores race ``filtered()`` over more filter sets
    than the LRU holds: the memo ends full, and exactly its frames stay
    persisted (a lost eviction or an orphaned frame breaks the count)."""
    import sys

    from pyspark import StorageLevel

    from etl_school_spark.app import dashboard

    base, _ = star
    n_sets = dashboard.FRAME_LRU_SIZE + 8

    def frame(k):
        return _dashboard(base, [("filter_range", "l_quantity", 200 + k, None)]).filtered()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(2 * len(os.sched_getaffinity(0))) as pool:
            futures = [pool.submit(frame, k % n_sets) for k in range(8 * n_sets)]
            frames = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    persisted = {k for k in range(n_sets) if frames[k].storageLevel != StorageLevel.NONE}
    assert len(persisted) == len(dashboard._MEMO.frames) == dashboard.FRAME_LRU_SIZE


def test_repeats_run_no_scan(spark, tmp_path):
    """A second filter_options on one base runs no job; a repeated filter
    set's metrics reads the persisted frame, not the parquet (it still
    answers with the files moved away)."""
    root = str(tmp_path / "star")
    tables = _star_rows(13, ["ALGERIA", "BRAZIL", "CANADA"])
    base = _read_base(spark, _write_star(root, tables))

    with count_jobs(spark) as first:
        opts = _dashboard(base, NAMED).filter_options("n_name")
    with count_jobs(spark) as again:
        assert _dashboard(base, ALL4).filter_options("n_name") == opts
    assert first.n >= 1 and again.n == 0

    with count_jobs(spark) as first:
        m = _dashboard(base, ALL4).metrics()
    os.rename(root, root + "_moved")
    try:
        with count_jobs(spark) as again:
            assert _dashboard(base, ALL4).metrics() == m
    finally:
        os.rename(root + "_moved", root)
    assert m == _expected(_joined(tables), ALL4)["metrics"]
    assert again.n < first.n
