"""End-to-end training-corpus build: the composed pipeline a user runs
over a raw crawl, from heuristics to training-ready shards.

    raw docs
      → C4/Gopher quality filter   (functions/corpus.filter_corpus)
      → PII scrubbing              (privacy.scrub_corpus)
      → exact dedup, keep-canonical (dedup/exact.drop_exact_duplicates)
      → [optional] near-dup dedup, keep best-quality copy
                                   (dedup/ngram + dedup/cluster + quality argmax)
      → deterministic reshard      (functions/sampling.reshard)
      → concat-and-chunk packing   (functions/sampling.pack_concat_windows)
      → partitioned parquet write  (write_corpus_shards)

Every stage is one of this engine's tested operators; this module only
composes them, in the order that keeps the expensive stages small:
filtering and exact dedup run BEFORE the near-dup pair join (the only
super-linear stage), so the pair pipeline sees the already-shrunk
corpus. Determinism is end-to-end: every decision (filter flags, scrub,
canonical choice, shard, intra-shard order, window spans) is a pure
function of the row content, so a re-run — or a different engine —
produces byte-identical shards.

At 100 TB: filter + scrub are shuffle-free scans; exact dedup shuffles
fingerprints (not text) once; near-dup runs the prefix-filtered PPJoin
(dedup/ngram.py) on the surviving corpus; reshard is the single
full-text shuffle, writing ``n_shards`` balanced, hash-ordered files.

Reference analog: none (the reference has no corpus surface); this is
the LLM-pipeline extension's capstone composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_school_spark.dedup.cluster import operator_leaf
from etl_school_spark.dedup.exact import drop_exact_duplicates
from etl_school_spark.functions.corpus import filter_corpus
from etl_school_spark.functions.sampling import pack_concat_windows, reshard
from etl_school_spark.functions.text import quality_score, token_count
from etl_school_spark.privacy import scrub_corpus


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Keep the highest-quality member of every near-dup component
    (quality_score, id tiebreak); unclustered docs pass through.

    Same decision rule as the driver-checked ``dedup_clusters`` query;
    packaged here as the pipeline stage form (returns the surviving
    corpus, original columns)."""
    from pyspark.sql.window import Window

    from etl_school_spark.dedup.cluster import connected_components
    from etl_school_spark.dedup.ngram import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, threshold=threshold, n=n, id_col=id_col, text_col=text_col)
    # near-dup edges are the minority of any healthy corpus — under the
    # cap they resolve in one driver-side union-find; past it the
    # distributed loop proceeds (cluster.py collect_cap docstring)
    labels = connected_components(pairs, collect_cap=1_000_000)
    q = docs.select(F.col(id_col).alias("node"), quality_score(text_col).alias("_q"))
    w = Window.partitionBy("component").orderBy(F.desc("_q"), "node")
    losers = (
        labels.join(q, "node")
        .withColumn("_canon", F.first("node").over(w))
        .filter(F.col("node") != F.col("_canon"))
        .select(F.col("node").alias(id_col))
    )
    # anti join moves only ids of clustered docs — tiny vs the corpus
    return docs.join(losers, id_col, "left_anti")


def build_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
    pack_capacity: int = 2048,
    near_dedup: bool = False,
    ppl_lm=None,
    max_ppl: float | None = None,
    **filter_thresholds,
) -> DataFrame:
    """The full corpus build. Returns the training-ready frame: surviving
    documents with ``shard``, ``first_window``, ``last_window`` and
    ``n_tokens`` columns, resharded and hash-ordered for writing.

    ``ppl_lm`` + ``max_ppl`` (r4, optional): CCNet-style model-based
    quality gate after the rule battery — documents whose bigram-LM
    perplexity against the trusted reference model exceeds ``max_ppl``
    drop (functions/lm.py). Documents too short to carry bigram evidence
    have no score and pass through — the rule battery's length bound is
    the authority on those.

    With ``near_dedup=True`` the returned frame reads one caller-owned
    leaf: the filter (+ gate) → scrub → exact-dedup prefix, truncated by
    ``operator_leaf`` (a localCheckpoint, or a reliable checkpoint when
    ``spark.etl_school.checkpoint_dir`` is set) and materialized once,
    during this call, by the near-dup stage's first jobs. Later actions on
    the frame, such as ``write_corpus_shards``, read the leaf and never
    ``docs``. As with every returned truncation leaf in this engine, its
    blocks live while the frame is referenced and the ContextCleaner
    reclaims them once it is not. With ``near_dedup=False`` the frame
    stays lazy over ``docs``, which the plan reads once."""
    out = filter_corpus(docs, text_col, **filter_thresholds)
    if ppl_lm is not None and max_ppl is not None:
        from etl_school_spark.functions.lm import ppl_gate

        out = ppl_gate(out, ppl_lm, max_ppl, id_col, text_col)
    out = scrub_corpus(out, text_col)
    out = drop_exact_duplicates(out, id_col, text_col)
    if near_dedup:
        # near dedup reads the corpus three times (shingle sets, quality
        # scores, loser anti-join) and the write reads it again; without
        # the leaf each read re-runs the filter battery, which fan_out
        # cannot parallelize (Catalyst pushes a filter below its
        # round-robin repartition). Lazy: under AQE, creating the leaf
        # already runs the prefix's shuffle-map stages (the filter battery
        # among them) and near dedup's first job computes the last stage,
        # so an eager checkpoint's extra count job would buy nothing
        out = operator_leaf(out)
        out = drop_near_duplicates(out, id_col, text_col)
    out = out.withColumn("n_tokens", token_count(text_col).cast("long"))
    # reshard FIRST: the one full-text shuffle. pack_concat_windows then
    # reuses the `shard` column AND the hash partitioning — its window
    # needs only an in-partition sort, no second exchange (asserted by
    # the pipeline plan test), and the window's (hash, key) output order
    # is exactly the shard order the writer wants.
    out = reshard(out, id_col, n_shards)
    return pack_concat_windows(out, id_col, "n_tokens", pack_capacity, n_shards)


def write_corpus_shards(corpus: DataFrame, path: str) -> None:
    """Write the built corpus as one parquet directory per shard.

    ``partitionBy("shard")`` + the pipeline's hash-ordered partitions →
    each shard directory holds one deterministically-ordered file set;
    re-running the build writes byte-identical content. A near-dedup
    build's frame reads its caller-owned prefix leaf (``build_corpus``),
    so the write runs only near dedup's anti-join, the token count,
    reshard and pack on top of it."""
    corpus.write.mode("overwrite").partitionBy("shard").parquet(path)
