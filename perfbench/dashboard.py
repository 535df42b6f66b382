"""``dashboard`` workload: analyst panel requests against ``app.Dashboard``.

One operation is one panel request from one seeded session: the filter
widget options, the metric tiles, two top-N breakdowns, a preview and a CSV
export, all derived from one lazy, uncached base
``lineitem ⋈ orders ⋈ customer ⋈ nation``. Filter sets come from a small
pool; every other session repeats an earlier set, drawn Zipf-skewed
(``gen.session_plan``).

A traced run also runs one pass of headline registry queries after its
requests (``registry.py``), so the per-layer metrics cover the layers only
the query registry reaches.
"""

from __future__ import annotations

import io
import os
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

import gen
import registry

N_ORDERS = 30_000  # ~120k lineitem rows
POOL = 40
PREVIEW_COLS = ["l_orderkey", "l_linenumber", "c_name", "n_name", "o_orderdate", "l_extendedprice"]
PREVIEW_LIMIT = 100
EXPORT_LIMIT = 1000
BREAKDOWNS = ("n_name", "c_name")
MEASURE = "l_extendedprice"


class Workload:
    unit = 2  # one first-seen and one repeated filter set
    min_ops = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.results = []  # (filter set, panel outputs), checked after the run
        self.first_seen: dict[int, bool] = {}
        self.registry = None

    def setup(self) -> None:
        from etl_school_spark.app import Dashboard  # noqa: F401  (import cost is set-up)

        ctx = self.ctx
        self.paths = gen.write_star(os.path.join(ctx.tmp, "star"), ctx.seed, N_ORDERS)
        self.pool = gen.filter_pool(ctx.seed, POOL)
        self.plan = gen.session_plan(ctx.seed, 2 * POOL - 1, POOL)
        # warm-up sets outside the pool, one per plan shape a pool set can
        # take (one segment becomes an equality, several an IN list; with
        # or without the name search), so a measured request never meets a
        # shape its session has not compiled before
        self.warm = [
            dict(f, segments=gen.SEGMENTS[: 1 + 2 * (k % 2)], search="customer#000001" if k < 2 else "")
            for k, f in enumerate(gen.filter_pool(ctx.seed + 1_000_003, 4))
        ]
        rd = ctx.spark.read.parquet
        li, o = rd(self.paths["lineitem"]), rd(self.paths["orders"])
        c, n = rd(self.paths["customer"]), rd(self.paths["nation"])
        self.base = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(n, c.c_nationkey == n.n_nationkey)
        )
        self.n_rows = ctx.spark.read.parquet(self.paths["lineitem"]).count()
        # the warm-up requests run side by side: they compile the same code
        # as one after the other, in about two thirds of the time
        with ThreadPoolExecutor(len(self.warm)) as pool:
            self.results += zip(self.warm, pool.map(self._request, self.warm))

    def _request(self, f: dict) -> dict:
        from etl_school_spark.app import Dashboard

        span = self.ctx.rec.span
        out = {}
        with span("app.construct", kind="lazy"):
            d = (
                Dashboard(self.base, MEASURE, ["c_name", "n_name"])
                .filter_isin("c_mktsegment", f["segments"])
                .filter_isin("o_orderpriority", f["priorities"])
                .filter_range("l_quantity", *f["qty"])
                .filter_time("o_orderdate", *f["dates"])
                .search(f["search"])
            )
        with span("app.filter_options", kind="action"):
            out["options"] = d.filter_options("n_name")
        with span("app.metrics", kind="action"):
            out["metrics"] = d.metrics()
        for k, by in enumerate(BREAKDOWNS, 1):
            with span(f"app.top_breakdown_{k}"):
                with span(f"app.top_breakdown_{k}.lazy", kind="lazy"):
                    df = d.top_breakdown(by, 10)
                with span(f"app.top_breakdown_{k}.collect", kind="action"):
                    out[f"top_{by}"] = [tuple(r) for r in df.collect()]
        with span("app.preview"):
            with span("app.preview.lazy", kind="lazy"):
                df = d.preview(PREVIEW_COLS, PREVIEW_LIMIT)
            with span("app.preview.collect", kind="action"):
                out["preview"] = df.toPandas()
        with span("app.export", kind="action"):
            out["export"] = d.export(PREVIEW_COLS, EXPORT_LIMIT)
        return out

    def op(self, i: int) -> int:
        k = self.plan[i]
        self.first_seen[i] = k not in {self.plan[j] for j in range(i)}
        f = self.pool[k]
        self.results.append((f, self._request(f)))
        return self.n_rows

    def after_traced_loop(self) -> None:
        """A warm-up pass of the registry queries, then one traced pass."""
        rec = self.ctx.rec
        self.registry = registry.Pass(self.ctx, os.path.join(self.ctx.tmp, "registry"))
        self.registry.setup()
        rec.op = "registry"
        try:
            self.registry.run()
        finally:
            rec.op = None

    # -- checks ------------------------------------------------------------
    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t, p in self.paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        con.execute(
            "CREATE VIEW base AS SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey"
        )
        options = [r[0] for r in con.execute("SELECT DISTINCT n_name FROM base ORDER BY n_name").fetchall()]
        problems, oracle = [], {}
        for f, got in self.results:
            key = repr(f)
            if key not in oracle:
                oracle[key] = _oracle(con, f)
            want = oracle[key]
            if got["options"] != options:
                problems.append(f"filter_options differ for {f}")
            if got["metrics"] != want["metrics"]:
                problems.append(f"metrics {got['metrics']} != {want['metrics']} for {f}")
            for by in BREAKDOWNS:
                if got[f"top_{by}"] != want[f"top_{by}"]:
                    problems.append(f"top_breakdown({by}) differs for {f}")
            n = want["metrics"]["rows"]
            exported = pd.read_csv(io.StringIO(got["export"]))
            for label, pdf, limit in (("preview", got["preview"], PREVIEW_LIMIT),
                                      ("export", exported, EXPORT_LIMIT)):
                if len(pdf) != min(n, limit):
                    problems.append(f"{label} has {len(pdf)} rows, want {min(n, limit)} for {f}")
                elif _not_in_filtered(con, f, pdf):
                    problems.append(f"{label} holds rows outside the filter {f}")
        if self.registry is not None:
            problems += self.registry.check()
        return problems

    def layer_metrics(self, rec, traced_ops: list[int], lat: dict[int, float]) -> dict:
        from statistics import median

        def per_op(pred):
            vals = [sum(s.dur for s in rec.op_spans(i) if pred(s)) for i in traced_ops]
            return median(vals) * 1000 if vals else 0.0

        m = {}
        for p in ("filter_options", "metrics", "top_breakdown_1", "top_breakdown_2", "preview", "export"):
            m[f"app.{p}_ms"] = per_op(lambda s, p=p: s.name == f"app.{p}")
        m["app.construct_ms"] = per_op(lambda s: s.attrs.get("kind") == "lazy")
        m["app.action_ms"] = per_op(lambda s: s.attrs.get("kind") == "action")
        first = [lat[i] for i in traced_ops if self.first_seen.get(i)]
        repeat = [lat[i] for i in traced_ops if not self.first_seen.get(i, True)]
        m["app.first_ms"] = median(first) * 1000 if first else 0.0
        m["app.repeat_ms"] = median(repeat) * 1000 if repeat else 0.0
        if self.registry is not None:
            m.update(registry.Pass.layer_metrics(rec, ["registry"]))
        return m


def _where(f: dict) -> str:
    def lst(vals):
        return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)

    conds = [
        f"c_mktsegment IN ({lst(f['segments'])})",
        f"o_orderpriority IN ({lst(f['priorities'])})",
        f"l_quantity >= {f['qty'][0]} AND l_quantity <= {f['qty'][1]}",
        f"o_orderdate >= TIMESTAMP '{f['dates'][0]}' AND o_orderdate < TIMESTAMP '{f['dates'][1]}'",
    ]
    if f["search"]:
        q = f["search"].replace("'", "''")
        conds.append(f"(c_name ILIKE '%{q}%' OR n_name ILIKE '%{q}%')")
    return " AND ".join(conds)


DSUM = f"CAST(SUM(CAST({MEASURE} AS DECIMAL(18,2))) AS DOUBLE)"


def _oracle(con, f: dict) -> dict:
    w = _where(f)
    n, total = con.execute(f"SELECT count(*), {DSUM} FROM base WHERE {w}").fetchone()
    out = {"metrics": {"rows": n, "total": total, "avg": None if total is None else total / n}}
    for by in BREAKDOWNS:
        out[f"top_{by}"] = [
            tuple(r)
            for r in con.execute(
                f"SELECT {by}, count(*) AS n, {DSUM} AS total FROM base WHERE {w} "
                f"GROUP BY {by} ORDER BY n DESC, {by} LIMIT 10"
            ).fetchall()
        ]
    return out


def _not_in_filtered(con, f: dict, pdf: pd.DataFrame) -> int:
    """Rows of ``pdf`` with no identical row in the filtered base."""
    probe = pdf[["l_orderkey", "l_linenumber", "c_name", "l_extendedprice"]]
    con.register("probe", probe)
    try:
        return con.execute(
            "SELECT count(*) FROM probe p WHERE NOT EXISTS (SELECT 1 FROM base b WHERE "
            f"{_where(f)} AND b.l_orderkey = p.l_orderkey AND b.l_linenumber = p.l_linenumber "
            "AND b.c_name = p.c_name AND b.l_extendedprice = p.l_extendedprice)"
        ).fetchone()[0]
    finally:
        con.unregister("probe")
