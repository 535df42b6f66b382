"""A pass of headline queries of the query registry through the noop sink,
as ``bench.py`` runs them, over seeded tables. The traced run of the
``dashboard`` workload runs one after its requests.

One pass runs every query of ``QUERIES`` once, in an order drawn from the
seed. The set is the part of ``bench.py``'s 26 headline queries that reaches
the layers no workload's operation calls: ``similarity`` gemm and knn,
``functions.lm``, the ordered-window operators and the Ed-Join matcher, plus
exact dedup as the counterpart of the corpus build's. The tables are the ten
of TESTDATA.md at sf0.001 size (``gen.write_registry``). The warm-up pass
collects every query and the check compares each with its ``oracle_sql``
twin in DuckDB (``tools/check_oracle.compare``).
"""

from __future__ import annotations

from statistics import median

import numpy as np

import gen

N_ORDERS = 1500  # sf0.001
QUERIES = [
    "ann_topk_cosine",  # similarity.gemm
    "embedding_neardup_pairs",  # similarity.dispatch -> knn
    "text_quality_scores",  # functions.lm
    "per_user_event_profile",  # operators.windows (latest per group)
    "event_window_suite",  # lag deltas + gap sessionization
    "fuzzy_name_matches",  # dedup.edjoin
    "dedup_exact_groups",  # dedup.exact
]


class Pass:
    def __init__(self, ctx, root: str):
        import __spark_entry__

        self.ctx, self.root = ctx, root
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.collected: dict[str, object] = {}
        self.passes = 0

    def setup(self) -> None:
        gen.write_registry(self.root, self.ctx.seed, N_ORDERS)
        # the warm-up pass collects each result for the oracle check
        for q in self._order():
            self.collected[q] = self.queries[q](self.ctx.spark, self.root).toPandas()

    def _order(self) -> list[str]:
        rng = np.random.default_rng([self.ctx.seed, 7, self.passes])
        self.passes += 1
        return [QUERIES[k] for k in rng.permutation(len(QUERIES))]

    def run(self) -> None:
        spark, span = self.ctx.spark, self.ctx.rec.span
        for q in self._order():
            with span(f"workload.{q}"):
                with span(f"workload.{q}.construct", kind="lazy"):
                    df = self.queries[q](spark, self.root)
                with span(f"workload.{q}.action", kind="action"):
                    df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        from tools.check_oracle import compare, duck_connection

        con = duck_connection(self.root)
        problems = []
        for q, pdf in self.collected.items():
            problems += [f"{q}: {p}" for p in compare(q, pdf, con.execute(self.oracles[q]).fetchdf())]
        return problems

    @staticmethod
    def layer_metrics(rec, traced_ops: list) -> dict:
        def med(name):
            vals = [s.dur for s in rec.spans if s.name == name and s.op in traced_ops]
            return median(vals) if vals else 0.0

        m = {}
        for q in QUERIES:
            m[f"workload.{q}_s"] = med(f"workload.{q}")
            m[f"workload.{q}_construct_s"] = med(f"workload.{q}.construct")
        return m

