"""``corpus`` workload: one full training-corpus build per operation.

``pipeline.build_corpus(near_dedup=True)`` → ``write_corpus_shards``, then
``similarity.semantic_dedup`` over the embedding table, written out. The
seeded corpus carries injected exact copies, near copies and PII strings.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import pyarrow.parquet as pq

import gen

N_DOCS = 400
N_VECS = 400
# the warm-up builds run on a corpus of this size: a cold build costs about
# the same at 40 documents as at 400 (code generation, JIT, Python worker
# start), 25 s against 32 s. Two of them run side by side, which warms up
# more than one build in about the same time, and gives every run two builds
# of one corpus for the determinism check
WARM_DOCS = 40
WARM_BUILDS = 2
SHARDS = 4
PACK = 256


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(path: str, key: str) -> str:
    """Order-independent content digest of a written parquet directory."""
    t = pq.read_table(path).to_pandas()
    t = t.reindex(sorted(t.columns), axis=1).sort_values(key).reset_index(drop=True)
    return hashlib.sha256(t.to_csv(index=False).encode()).hexdigest()


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.builds: list[tuple[dict, str, str]] = []  # (corpus, shards dir, semdedup dir)

    def setup(self) -> None:
        ctx = self.ctx
        self.root = os.path.join(ctx.tmp, "corpus")
        self.info = gen.write_corpus(os.path.join(self.root, "main"), ctx.seed, N_DOCS, N_VECS)
        self.n_in = N_DOCS + len(self.info["exact_pairs"]) + len(self.info["near_pairs"])
        warm = gen.write_corpus(os.path.join(self.root, "warm"), ctx.seed + 1_000_003, WARM_DOCS, WARM_DOCS)
        with ThreadPoolExecutor(WARM_BUILDS) as pool:
            list(pool.map(lambda k: self._build(warm, f"warmup{k}"), range(WARM_BUILDS)))

    def _build(self, info: dict, tag) -> None:
        from etl_school_spark.pipeline import build_corpus, write_corpus_shards
        from etl_school_spark.similarity.semantic import semantic_dedup

        spark, span = self.ctx.spark, self.ctx.rec.span
        shards = os.path.join(self.root, f"shards_{tag}")
        sem = os.path.join(self.root, f"semdedup_{tag}")
        docs = spark.read.parquet(info["paths"]["documents"])
        with span("pipeline.construct", kind="lazy"):
            built = build_corpus(docs, n_shards=SHARDS, pack_capacity=PACK, near_dedup=True)
        with span("pipeline.write", kind="action"):
            write_corpus_shards(built, shards)
        embs = spark.read.parquet(info["paths"]["embeddings"])
        with span("similarity.semantic_dedup", kind="lazy"):
            flags = semantic_dedup(embs, threshold=0.95)
        with span("similarity.semantic_write", kind="action"):
            flags.write.mode("overwrite").parquet(sem)
        self.builds.append((info, shards, sem))

    def op(self, i: int) -> int:
        self._build(self.info, i)
        return self.n_in

    # -- checks ------------------------------------------------------------
    def check(self) -> list[str]:
        problems = []
        for info in {id(b[0]): b[0] for b in self.builds}.values():
            builds = [(s, m) for i, s, m in self.builds if i is info]
            name = os.path.basename(os.path.dirname(info["paths"]["documents"]))
            digests = {(_digest(s, "doc_id"), _digest(m, "vec_id")) for s, m in builds}
            if len(digests) != 1:
                problems.append(f"{len(builds)} builds of the {name} corpus gave {len(digests)} different outputs")
            shards, sem = builds[-1]
            kept = self._kept(shards)
            left = [c for _, c in info["exact_pairs"] if c in kept]
            if left:
                problems.append(f"{name}: {len(left)} injected exact copies survived, e.g. doc {left[0]}")
            flagged = pq.read_table(sem, columns=["vec_id"]).column("vec_id").to_pylist()
            if sorted(flagged) != list(range(info["n_vecs"])):
                problems.append(f"{name}: semantic_dedup did not flag every vector exactly once")
        return problems

    @staticmethod
    def _kept(shards: str) -> set[int]:
        return set(pq.read_table(shards, columns=["doc_id"]).column("doc_id").to_pylist())

    def layer_metrics(self, rec, traced_ops: list[int], lat: dict[int, float]) -> dict:
        def med(name):
            vals = [s.dur for s in rec.spans if s.name == name and s.op in traced_ops]
            return median(vals) if vals else 0.0

        prefix = self._prefix_times()
        kept = self._kept(self.builds[-1][1])
        injected = self.info["exact_pairs"] + self.info["near_pairs"]
        removed = sum(1 for a, b in injected if not (a in kept and b in kept))
        return {
            "pipeline.construct_s": med("pipeline.construct"),
            # the write runs the whole built plan; its own share is what it
            # costs beyond running that plan into a noop sink
            "pipeline.write_s": med("pipeline.write") - prefix["full_action"],
            "functions.filter_corpus_s": prefix["filter"],
            "privacy.scrub_corpus_s": prefix["scrub"] - prefix["filter"],
            "dedup.exact_s": prefix["exact"] - prefix["scrub"],
            "dedup.near_s": prefix["near"] - prefix["exact"],
            "functions.reshard_pack_s": prefix["full"] - prefix["near"],
            "similarity.semantic_dedup_s": med("similarity.semantic_dedup") + med("similarity.semantic_write"),
            "dedup.pairs": prefix["pairs"],
            "dedup.injected_removed_ratio": removed / len(injected),
        }

    def _prefix_times(self) -> dict:
        """Stage-prefix timings: each prefix of the build chain is built and
        run to completion (noop sink); a stage's self time is its prefix
        time minus the previous prefix's."""
        import time

        from etl_school_spark.dedup.exact import drop_exact_duplicates
        from etl_school_spark.dedup.ngram import ngram_jaccard_pairs
        from etl_school_spark.functions.corpus import filter_corpus
        from etl_school_spark.pipeline import build_corpus, drop_near_duplicates
        from etl_school_spark.privacy import scrub_corpus

        spark, span = self.ctx.spark, self.ctx.rec.span
        docs = spark.read.parquet(self.info["paths"]["documents"])
        out = {}

        def timed(name, make):
            with span(f"prefix.{name}"):
                t0 = time.perf_counter()
                df = make()
                t1 = time.perf_counter()
                _noop(df)
                out[name] = time.perf_counter() - t0
                out[f"{name}_action"] = time.perf_counter() - t1
            return df

        timed("filter", lambda: filter_corpus(docs))
        timed("scrub", lambda: scrub_corpus(filter_corpus(docs)))
        exact = timed("exact", lambda: drop_exact_duplicates(scrub_corpus(filter_corpus(docs))))
        timed("near", lambda: drop_near_duplicates(drop_exact_duplicates(scrub_corpus(filter_corpus(docs)))))
        timed("full", lambda: build_corpus(docs, n_shards=SHARDS, pack_capacity=PACK, near_dedup=True))
        with span("dedup.ngram_jaccard_pairs"):
            out["pairs"] = ngram_jaccard_pairs(exact).count()
        return out
