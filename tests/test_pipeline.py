"""End-to-end corpus build (etl_school_spark/pipeline.py): the composed
filter → scrub → dedup → reshard → pack chain over real test data."""

from __future__ import annotations

import collections
import gc
import hashlib
import random
import time

from pyspark.sql import functions as F

from etl_school_spark.dedup.exact import drop_exact_duplicates
from etl_school_spark.functions.corpus import filter_corpus
from etl_school_spark.functions.sampling import pack_concat_windows, reshard
from etl_school_spark.functions.text import token_count
from etl_school_spark.pipeline import build_corpus, drop_near_duplicates, write_corpus_shards
from etl_school_spark.privacy import scrub_corpus
from etl_school_spark.tables import load_table

SF = "/root/testdata/sf0.01"

# filter thresholds every planted document passes
LAX = dict(
    min_tokens=5, min_mean_word_len=0.0, min_stopword_share=0.0,
    min_alpha_share=0.0, max_top_word_share=1.0,
    max_top_bigram_share=1.0, max_dup_trigram_frac=1.0,
)


def _lazy_stages(docs, n_shards, pack_capacity, **thresholds):
    """The near-dedup build as one lazy composition of the public stages,
    with no truncation: the reference build_corpus must reproduce."""
    out = filter_corpus(docs, "text", **thresholds)
    out = drop_near_duplicates(drop_exact_duplicates(scrub_corpus(out)))
    out = out.withColumn("n_tokens", token_count("text").cast("long"))
    out = reshard(out, "doc_id", n_shards)
    return pack_concat_windows(out, "doc_id", "n_tokens", pack_capacity, n_shards)


def _rows(df):
    return collections.Counter(map(tuple, df.select(*sorted(df.columns)).collect()))


def _plan_leaves(df):
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())}


def test_build_corpus_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    built = build_corpus(docs, n_shards=4, pack_capacity=256, near_dedup=True)
    # the near-dedup build reads its one prefix leaf, never the documents
    # scan: the write below does not re-run filter → scrub → exact dedup
    assert "FileScan parquet" not in built._jdf.queryExecution().executedPlan().toString()
    assert _plan_leaves(built) <= {"Scan ExistingRDD", "LocalTableScan"}, _plan_leaves(built)
    rows = built.collect()
    n_raw = docs.count()
    # same rows as the untruncated composition of the public stages
    assert _rows(built) == _rows(_lazy_stages(docs, 4, 256))

    # stages only ever DROP rows, and something must survive
    assert 0 < len(rows) < n_raw
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))

    # exact dedup held: normalized-text fingerprints are unique
    fps = {
        hashlib.md5(" ".join(r.text.split()).lower().encode()).hexdigest()
        for r in rows
    }
    assert len(fps) == len(rows)

    # every surviving doc passes the filter battery (spot-check: length)
    assert all(len(r.text.split()) >= 50 for r in rows)

    # shard layout: 4 shards, spans never invert, windows start at 0
    assert {r.shard for r in rows} <= set(range(4))
    assert all(r.first_window <= r.last_window for r in rows)
    assert min(r.first_window for r in rows) == 0

    # determinism: a re-run from a differently-partitioned input is
    # row-identical (the whole pipeline is content-keyed)
    again = build_corpus(docs.repartition(13), n_shards=4, pack_capacity=256, near_dedup=True)
    key = lambda r: (r.doc_id, r.shard, r.first_window, r.last_window, r.text)
    assert sorted(map(key, rows)) == sorted(map(key, again.collect()))

    # write → one directory per shard, re-read round-trips
    out = str(tmp_path / "corpus")
    write_corpus_shards(built, out)
    back = spark.read.parquet(out)
    assert back.count() == len(rows)
    assert {r.shard for r in back.select("shard").distinct().collect()} == {
        r.shard for r in rows
    }

    # ONE full-text shuffle: pack's window reuses reshard's partitioning
    # (pack_concat_windows keeps the existing `shard` column), so exactly
    # one exchange hash-partitions on shard — a second one would double
    # the dominant shuffle at corpus scale
    plan = (
        build_corpus(docs, n_shards=4, pack_capacity=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("hashpartitioning(shard") == 1, plan


def test_build_corpus_near_dedup_planted_copies_one_leaf(spark, tmp_path):
    """Planted exact and near copies plus a PII string: the near-dedup
    build equals the lazy stage composition, and after build + write the
    session holds at most one more storage block set than before — the
    returned frame's caller-owned prefix leaf."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(300)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(40))

    def near(t):  # one word of 40 changed: trigram jaccard ~0.85
        ws = t.split()
        ws[20] = "changed"
        return " ".join(ws)

    texts = [doc() for _ in range(30)]
    texts[3] += " mail me at someone@example.com"
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(100 + i, texts[i]) for i in range(5)]  # exact copies
    rows += [(200 + i, near(texts[10 + i])) for i in range(5)]  # near copies
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sc = spark.sparkContext

    def n_blocks():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_blocks()
    built = build_corpus(docs, n_shards=2, pack_capacity=64, near_dedup=True, **LAX)
    write_corpus_shards(built, str(tmp_path / "corpus"))
    # superseded working leaves are reclaimable once a driver GC lets the
    # ContextCleaner unpersist them (the tools/census_registry gc step)
    growth = n_blocks() - before
    for _ in range(4):
        if growth <= 1:
            break
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(1.5)
        growth = n_blocks() - before
    assert growth <= 1, growth

    assert _rows(built) == _rows(_lazy_stages(docs, 2, 64, **LAX))
    ids = {r.doc_id for r in built.select("doc_id").collect()}
    assert not ids & {100 + i for i in range(5)}  # exact copies dropped
    assert all(len(ids & {10 + i, 200 + i}) == 1 for i in range(5))
    assert not any("someone@example.com" in r.text for r in built.select("text").collect())


def test_drop_near_duplicates_keeps_best_quality(spark):
    """Planted near-dup pair: the higher-quality copy survives."""
    base = (
        "the quick brown fox jumps over a lazy dog and then runs far away "
        "to find some food in the deep green forest near a quiet river "
        "where it is safe and the sun is warm and the grass is soft today "
        "and every animal of the forest knows it well and it is happy there"
    )
    # doc 2 = doc 1 with a tiny edit (near-dup); doc 3 unrelated
    rows = [
        (1, base + " extra trailing words of low diversity the the the the"),
        (2, base),
        (3, "completely different text about completely different things entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in drop_near_duplicates(df, threshold=0.5).collect())
    assert 3 in kept  # unclustered passes through
    assert len([k for k in kept if k in (1, 2)]) == 1  # one of the pair survives


def test_build_corpus_ppl_gate(spark):
    """r4 optional LM quality gate: with a reference model and a max_ppl
    cut, the gibberish twin of a fluent doc (passes every rule heuristic
    — same tokens!) is dropped while the fluent docs survive; without
    the gate both survive. Short no-evidence docs are untouched."""
    import random

    from etl_school_spark.functions.lm import perplexity_scores, train_bigram_lm

    base = (
        "the cat sat on the mat and the dog sat on the rug . "
        "the bird sang in the tree and the fish swam in the pond . "
    ) * 4
    rng = random.Random(7)
    shuffled = base.split()
    rng.shuffle(shuffled)
    gibberish = " ".join(shuffled)

    ref = spark.createDataFrame(
        [(i, base) for i in range(10)], "doc_id long, text string"
    )
    lm = train_bigram_lm(ref, vocab_size=100)

    docs = spark.createDataFrame(
        [(1, base), (2, base + "extra tail ."), (3, gibberish)],
        "doc_id long, text string",
    )
    no_gate = build_corpus(docs, near_dedup=False, **LAX)
    assert {r.doc_id for r in no_gate.collect()} == {1, 2, 3}

    # cut between the fluent and shuffled scores
    ppls = {r.doc_id: r.ppl for r in perplexity_scores(docs, lm).collect()}
    cut = (max(ppls[1], ppls[2]) + ppls[3]) / 2
    assert ppls[3] > cut > max(ppls[1], ppls[2])
    gated = build_corpus(docs, near_dedup=False, ppl_lm=lm, max_ppl=cut, **LAX)
    assert {r.doc_id for r in gated.collect()} == {1, 2}
