"""Dedup operator tests: exactness guarantees and LSH recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _docs(spark):
    from etl_school_spark.tables import load_table

    return load_table(spark, SF_SMOKE, "documents")


def test_minhash_matches_exact_on_planted_dups(spark):
    """The planted near-dups sit at jaccard ≈ 0.99, far above the 32×4-band
    S-curve at t=0.8 — MinHash must find exactly the exact-join's pairs."""
    from etl_school_spark.dedup.minhash import minhash_lsh_pairs
    from etl_school_spark.dedup.ngram import ngram_jaccard_pairs

    docs = _docs(spark)
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, 0.8).collect()}
    assert exact, "expected planted near-duplicates in testdata"
    assert lsh == exact


def test_simhash_blocking_is_exact(spark):
    """Pigeonhole blocking (4 chunks, hamming ≤ 3) must equal the
    brute-force hamming join."""
    from etl_school_spark.dedup.simhash import simhash_near_pairs
    from etl_school_spark.functions.text import hamming, simhash64

    docs = _docs(spark).limit(150)
    blocked = {(r.id_a, r.id_b) for r in simhash_near_pairs(docs, max_hamming=3, chunks=4).collect()}

    signed = docs.select(F.col("doc_id").alias("doc"), simhash64("text").alias("sig"))
    a, b = signed.alias("a"), signed.alias("b")
    brute = (
        a.crossJoin(b)
        .filter(F.col("a.doc") < F.col("b.doc"))
        .withColumn("h", hamming(F.col("a.sig"), F.col("b.sig")))
        .filter(F.col("h") <= 3)
    )
    expected = {(r["a.doc"] if "a.doc" in r else r[0], r[1]) for r in brute.select("a.doc", "b.doc").collect()}
    assert blocked == expected


def test_exact_dedup_drops_synthetic_duplicates(spark):
    from etl_school_spark.dedup.exact import drop_exact_duplicates

    docs = _docs(spark).limit(50)
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1000))
    kept = drop_exact_duplicates(doubled)
    assert kept.count() == 50
    # canonical (minimum) ids survive
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1000


def test_word_shingles_short_doc_edge(spark):
    from etl_school_spark.functions.text import word_shingles

    df = spark.createDataFrame([("a b",), ("a b c",), ("",)], "text string")
    out = df.select(word_shingles("text", 3).alias("s")).collect()
    assert out[0].s == []
    assert out[1].s == ["a b c"]
    assert out[2].s == []


def test_connected_components_chain_clique_pair(spark):
    """Chains propagate labels transitively; disjoint groups stay apart."""
    from etl_school_spark.dedup.cluster import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4, clique {10,11,12}, pair {20,21}
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_collect_cap_paths(spark):
    """The r9 collect_cap fast path (driver-side union-find) must return
    exactly the distributed loop's labels — under the cap, OVER the cap
    (fallback to the loop), and on string node ids (binary vs code-point
    ordering must agree)."""
    from etl_school_spark.dedup.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    want = {r.node: r.component for r in connected_components(edges).collect()}
    for cap in (10**6, 1):  # capped path, then over-cap fallback
        got = {
            r.node: r.component
            for r in connected_components(edges, collect_cap=cap).collect()
        }
        assert got == want, f"cap={cap}"

    sedges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("É", "Z")],
        "id_a string, id_b string",
    )
    swant = {r.node: r.component for r in connected_components(sedges).collect()}
    sgot = {
        r.node: r.component
        for r in connected_components(sedges, collect_cap=10**6).collect()
    }
    assert sgot == swant


def test_connected_components_collect_cap_null_fallback(spark):
    """A NULL endpoint routes the capped call to the distributed loop
    (legacy null semantics preserved, not redefined driver-side)."""
    from etl_school_spark.dedup.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (3, 4)], "id_a long, id_b long"
    )
    want = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }
    got = {
        (r.node, r.component)
        for r in connected_components(edges, collect_cap=10**6).collect()
    }
    assert got == want


def test_connected_components_warns_on_nonconvergence(spark):
    """A chain whose diameter exceeds the round budget must not return
    silently-split components without a warning (ADVICE r1)."""
    import warnings

    from etl_school_spark.dedup.cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(chain, max_iterations=1).collect()
    assert any("did not converge" in str(x.message) for x in w)


def test_prefix_filtered_jaccard_equals_postings_baseline(spark):
    """Prefix filtering must be EXACT: identical pair set and scores vs
    the full inverted-index join, at multiple thresholds (including ones
    whose t*|S| product is an exact integer — the ceil edge case)."""
    from etl_school_spark.dedup.ngram import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_postings,
    )
    from etl_school_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for t in (0.5, 0.8):
        base = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs_postings(docs, t).collect()
        }
        fast = {
            (r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, t).collect()
        }
        assert fast == base, t
        assert len(base) > 0


def test_contamination_flags_overlapping_docs(spark):
    """Decontamination: a doc sharing an n-gram with the benchmark set is
    flagged with the right DISTINCT-gram overlap count; clean docs survive."""
    from etl_school_spark.dedup.contamination import contaminated_docs, decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated corpus text here today"),
            (3, "quick brown fox runs quick brown fox runs again"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox appeared")], "doc_id long, text string"
    )
    bad = {r.doc_id: r.overlap_grams for r in contaminated_docs(docs, bench, n=3).collect()}
    # benchmark 3-grams: {a quick brown, quick brown fox, brown fox appeared}
    assert bad == {1: 1, 3: 1}  # both share exactly 'quick brown fox' (distinct)
    kept = sorted(r.doc_id for r in decontaminate(docs, bench, n=3).collect())
    assert kept == [2]


def test_contamination_min_overlap_is_distinct_gram_semantics(spark):
    """min_overlap is defined over DISTINCT shared grams per doc — a doc
    repeating ONE contaminated n-gram many times counts 1, not the
    occurrence count. This is load-bearing on word_shingles (distinct);
    pins the semantics so a swap to non-distinct word_ngrams in
    contaminated_docs fails here instead of silently inflating counts."""
    from etl_school_spark.dedup.contamination import contaminated_docs, decontaminate

    docs = spark.createDataFrame(
        [
            # 'alpha beta gamma' appears 3 times → still 1 distinct shared gram
            (1, "alpha beta gamma junkone alpha beta gamma junktwo alpha beta gamma"),
            # shares 2 DISTINCT grams: 'alpha beta gamma' and 'delta epsilon zeta'
            (2, "alpha beta gamma padpad delta epsilon zeta"),
            (3, "nothing shared with any benchmark document at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    bad = {r.doc_id: r.overlap_grams for r in contaminated_docs(docs, bench, n=3).collect()}
    assert bad == {1: 1, 2: 2}
    # min_overlap filters on the distinct count: the repeater drops out
    strict = {r.doc_id for r in contaminated_docs(docs, bench, n=3, min_overlap=2).collect()}
    assert strict == {2}
    assert sorted(r.doc_id for r in decontaminate(docs, bench, n=3, min_overlap=2).collect()) == [1, 3]


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the join as a broadcast — the
    corpus side is never shuffled before the (rare-match) count."""
    from etl_school_spark.dedup.contamination import contaminated_docs
    from etl_school_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.limit(5)
    plan = contaminated_docs(docs, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# C4/Gopher corpus-filter battery (functions/corpus.py)
# ---------------------------------------------------------------------------
def _corpus_df(spark):
    good = (
        "The quick brown fox jumps over the lazy dog near the quiet river. "
        "It was a bright morning and the air felt clean after the rain. "
        "People walked to the market while children played in the park. "
        "A gentle wind moved through the trees and the day went on calmly. "
        "Nothing unusual happened but everyone seemed content with that."
    )
    short = "too short to keep."
    repeated = ("buy cheap widgets now " * 40).strip()
    symbols = "#### $$$$ @@@@ 1234 5678 " * 20
    return spark.createDataFrame(
        [(1, good), (2, short), (3, repeated), (4, symbols)],
        "doc_id long, text string",
    )


def test_corpus_filter_keeps_prose_drops_junk(spark):
    from etl_school_spark.functions.corpus import corpus_flags, filter_corpus

    docs = _corpus_df(spark)
    flags = {r.doc_id: r for r in corpus_flags(docs, min_terminal_punct_share=0.5).collect()}
    assert flags[1].keep, flags[1]
    assert not flags[2].ok_len          # too few tokens
    assert not flags[3].ok_rep_bigram   # one bigram dominates
    assert not flags[4].ok_alpha        # symbol soup
    kept = {r.doc_id for r in filter_corpus(docs, min_terminal_punct_share=0.5).collect()}
    assert kept == {1}


def test_corpus_flags_null_and_empty_fail_not_crash(spark):
    from etl_school_spark.functions.corpus import corpus_flags

    docs = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    rows = {r.doc_id: r for r in corpus_flags(docs).collect()}
    assert not rows[1].keep and not rows[2].keep


def test_corpus_filter_plan_is_pure_jvm(spark):
    from etl_school_spark.functions.corpus import filter_corpus

    docs = _corpus_df(spark)
    plan = filter_corpus(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_packed_matches_array_bits(spark):
    """simhash64_packed is bit-for-bit the packed form of simhash64, and
    bit_count(xor) equals the array hamming distance — the equivalence
    that lets the pair join carry one word instead of a 64-int array."""
    from etl_school_spark.functions.text import hamming, simhash64, simhash64_packed

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content with other words entirely"),
        (4, ""),
        (5, "single"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = df.select(
        "i",
        simhash64("t").alias("bits"),
        simhash64_packed("t").alias("word"),
    ).collect()
    by_i = {r.i: r for r in got}
    for r in got:
        packed = sum(1 << k for k, b in enumerate(r.bits) if b == 1)
        if packed >= 1 << 63:
            packed -= 1 << 64
        assert r.word == packed, (r.i, r.word, packed)
    # cross-doc hamming parity: array zip vs popcount(xor)
    import itertools

    pair = df.alias("a").crossJoin(df.alias("b")).filter("a.i < b.i")
    from pyspark.sql import functions as F

    hd = pair.select(
        F.col("a.i").alias("ia"),
        F.col("b.i").alias("ib"),
        hamming(simhash64(F.col("a.t")), simhash64(F.col("b.t"))).alias("h_arr"),
        F.bit_count(
            simhash64_packed(F.col("a.t")).bitwiseXOR(simhash64_packed(F.col("b.t")))
        ).alias("h_word"),
    ).collect()
    assert all(r.h_arr == r.h_word for r in hd)


def test_simhash_bit_sums_match_hex_digit_definition(spark):
    """r8 kernel lock: _simhash_bit_sums extracts bit k as a long
    shift/mask over two conv()-parsed 32-bit md5 halves. That must stay
    bit-for-bit the DEFINITION the driver oracle replays — bit p (p=0
    the MSB) of hex digit k//4 via HEX_BIT_SETS membership — for every
    token, including the cases that distinguish the two forms (unicode
    multi-byte md5 input, punctuation, single chars, long tokens)."""
    import hashlib

    from pyspark.sql import functions as F

    from etl_school_spark.functions.text import (
        HEX_BIT_SETS,
        WS_CLASS,
        _simhash_bit_sums,
    )

    texts = [
        (1, "the quick brown fox the quick"),
        (2, "naïve café déjà-vu ünïcödé"),
        (3, "x"),
        (4, "a b c d e f g h i j k l m n o p"),
        (5, "punct! marks? (and) [brackets] {braces} #hash"),
        (6, "supercalifragilisticexpialidocious " * 3),
    ]
    df = spark.createDataFrame(texts, "i long, t string")
    got = {r.i: list(r.s) for r in df.select("i", _simhash_bit_sums("t").alias("s")).collect()}

    import re

    for i, t in texts:
        toks = sorted(set(re.split("[ \t\n\x0b\f\r]+", t.strip())))
        sums = [0] * 64
        for tok in toks:
            h = hashlib.md5(tok.encode("utf-8")).hexdigest()[:16]
            for k in range(64):
                bit = h[k // 4] in HEX_BIT_SETS[k % 4]
                sums[k] += 1 if bit else -1
        assert got[i] == sums, (i, got[i][:8], sums[:8])


def test_corpus_flags_reannotation_overwrites(spark):
    """corpus_flags of an already-annotated frame overwrites the flag
    (and metric) columns instead of appending ambiguous duplicates —
    the audit-then-filter pattern filter_corpus(corpus_flags(df))."""
    from etl_school_spark.functions.corpus import corpus_flags, filter_corpus

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 10)],
        "doc_id long, text string",
    )
    once = corpus_flags(df, emit_metrics=True)
    twice = corpus_flags(once, emit_metrics=True)
    assert twice.columns == once.columns  # replaced, not appended
    assert twice.collect() == once.collect()
    assert filter_corpus(once).count() == filter_corpus(df).count()


def test_drop_duplicate_paragraphs_matches_python(spark):
    """Order-preserving first-occurrence paragraph dedup vs a Python
    reference, including empty/whitespace-only and no-dup documents."""
    from etl_school_spark.functions.corpus import drop_duplicate_paragraphs

    texts = [
        "intro\nrepeat me\nbody text\nrepeat me\noutro",
        "cookie banner\ncookie banner\ncookie banner",
        "single paragraph only",
        "",
        "   \n  \n ",
        "a\n\n\nb\na\nb\nc",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r.i: r.out for r in df.select("i", drop_duplicate_paragraphs("t").alias("out")).collect()}

    for i, t in enumerate(texts):
        seen, keep = set(), []
        for p in (p.strip() for p in __import__("re").split(r"\n+", t)):
            if p and p not in seen:
                seen.add(p)
                keep.append(p)
        assert got[i] == "\n".join(keep), (i, got[i])


def test_connected_components_long_chain_bounded_lineage(spark):
    """High-diameter regression (r3): a 60-node path needs ~60 label-
    propagation rounds; before the periodic localCheckpoint the logical
    plan nested one join+union level PER ROUND and driver plan handling
    blew up on exactly this shape (hypothesis-found long-chain OOM).
    Asserts completion and exact labels — every node's component is the
    chain's minimum."""
    from etl_school_spark.dedup.cluster import connected_components

    n = 60
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df, max_iterations=100).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_adaptive_edjoin_exact_and_bounded(spark):
    """r4 adaptive blocking (the SCALING.md fixed-key lesson): oversized
    blocks are refined by the exact Ed-Join q-gram prefix signature.
    On a DIVERSE 300+-member block the candidate count must stay well
    under the block's all-pairs while the verified result equals the
    plain blocked join exactly — every planted substitution/insertion/
    deletion pair and every byte-identical twin found, nothing extra."""
    import random

    from pyspark.sql import functions as F

    from etl_school_spark.dedup.edjoin import (
        blocked_edit_distance_pairs,
        edit_blocked_candidates,
    )

    rng = random.Random(3)
    alpha = "abcdefghij"
    pref = "Customer#00000000"
    base = ["".join(rng.choice(alpha) for _ in range(6)) for _ in range(280)]
    names = [pref + s for s in base]
    for s in base[:10]:
        names.append(pref + s[:3] + rng.choice(alpha) + s[4:])  # substitution
        names.append(pref + s + rng.choice(alpha))  # insertion
        names.append(pref + s[:-1])  # deletion
    names += [pref + base[0]] * 3  # byte-identical twins (empty-suffix-safe path)
    names += ["Other#00000000000" + str(i) for i in range(5)]  # small block
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )

    c = df.select("id", "name", F.substring("name", 1, 17).alias("blk"))
    brute = (
        c.alias("a")
        .join(
            c.alias("b"),
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn(
            "dist", F.levenshtein(F.col("a.name"), F.col("b.name")).cast("long")
        )
        .filter(F.col("dist") <= 2)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "dist")
    )
    bset = {(r.id_a, r.id_b, r.dist) for r in brute.collect()}
    for order in ("freq", "lex"):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in blocked_edit_distance_pairs(
                df, "id", "name", 17, 2, block_cap=64, gram_order=order
            ).collect()
        }
        assert got == bset and len(bset) > 40, order

    n_blk = len(names) - 5
    all_pairs = n_blk * (n_blk - 1) // 2
    n_lex = edit_blocked_candidates(
        df, "id", "name", 17, 2, block_cap=64, gram_order="lex"
    ).count()
    n_freq = edit_blocked_candidates(
        df, "id", "name", 17, 2, block_cap=64, gram_order="freq"
    ).count()
    assert n_lex < 0.3 * all_pairs, n_lex
    # rarest-first signatures must prune at least as hard as lexicographic
    assert n_freq <= n_lex, (n_freq, n_lex)


def test_connected_components_reliable_checkpoint(spark, durable_checkpoints):
    """r4: durable mode switches the periodic lineage truncation to
    reliable Dataset.checkpoint — the production form that survives
    executor loss. A 60-node chain runs 15+ rounds (>= 5 truncation
    points); labels must be exact, checkpoint files must land in the
    dir, and the returned frame's plan must be bounded (a LogicalRDD
    leaf at most 3 rounds deep, not a 60-round join tower)."""
    from etl_school_spark.dedup.cluster import connected_components

    n = 60
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, max_iterations=100)
    got = {r.node: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(n + 1)}
    files = list(durable_checkpoints.rglob("*"))
    assert any(f.is_file() for f in files), "no reliable checkpoint written"
    # the dir is registered once, not per truncation: each registration
    # makes a fresh UUID subdirectory
    subdirs = [d for d in durable_checkpoints.iterdir() if d.is_dir()]
    assert len(subdirs) == 1, subdirs
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and plan.count("Join") <= 3


def test_connected_components_releases_superseded_checkpoints(spark):
    """ADVICE r3: superseded localCheckpoint block sets must be freed,
    not accumulate for the job's lifetime. After a long-chain run (~20
    truncation points) the session must hold only O(1) more cached RDDs
    than before — the live truncation point, not twenty."""
    from etl_school_spark.dedup.cluster import connected_components

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    n = 60
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df, max_iterations=100)
    assert {r.node: r.component for r in out.collect()} == {i: 0 for i in range(n + 1)}
    assert n_cached() - before <= 3, (before, n_cached())


def test_incremental_dedup_against_index(spark):
    """r4 continual-ingestion dedup: a new batch is deduplicated against
    a persisted index of the accepted corpus (exact + near-dup, history
    always wins) AND within itself (min-id canonical), touching history
    only through index columns. Planted: an exact copy of history, a
    near copy of history (1 word of 40 -> jaccard ~0.85), a within-batch
    exact pair, a within-batch near pair, and fresh docs."""
    import random

    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(200)]

    def doc(k=40):
        return " ".join(rng.choice(vocab) for _ in range(k))

    def mutate(t):
        ws = t.split()
        ws[7] = "zz_changed"
        return " ".join(ws)

    batch0 = [(i, doc()) for i in range(10)]
    fresh2, fresh3 = doc(), doc()
    batch1 = [
        (100, batch0[0][1]),       # exact dup of history -> dropped
        (101, mutate(batch0[1][1])),  # near dup of history -> dropped
        (102, fresh2),             # fresh -> kept (canonical of {102,105})
        (103, fresh3),             # fresh -> kept (canonical of {103,104})
        (104, fresh3),             # exact dup within batch -> dropped
        (105, mutate(fresh2)),     # near dup within batch -> dropped
        (106, doc()),              # fresh -> kept
    ]
    d0 = spark.createDataFrame(batch0, "doc_id long, text string")
    d1 = spark.createDataFrame(batch1, "doc_id long, text string")

    # production reads the index from its persisted table; localCheckpoint
    # stands in for that leaf (the operator contract: pass it materialized)
    index = build_dedup_index(d0).localCheckpoint()
    accepted, new_rows = dedup_batch_against_index(d1, index)
    got = {r.doc_id for r in accepted.collect()}
    assert got == {102, 103, 106}
    # accepted index rows carry the same ids and the persistable columns
    assert {r.doc for r in new_rows.collect()} == {102, 103, 106}
    assert set(new_rows.columns) >= {"doc", "fp", "shingles", "set_size", "sig"}

    # a second batch against the grown index: re-sending an accepted
    # batch-1 doc (exact) and a near copy of another must both drop
    index2 = index.unionByName(new_rows.select(*index.columns)).localCheckpoint()
    d2 = spark.createDataFrame(
        [(200, fresh3), (201, mutate(fresh3)), (202, doc())],
        "doc_id long, text string",
    )
    accepted2, _ = dedup_batch_against_index(d2, index2)
    assert {r.doc_id for r in accepted2.collect()} == {202}


def test_incremental_dedup_rejects_batch_index_with_wrong_columns(spark):
    """An injected batch index must have build_dedup_index's column set;
    any other frame (a dropped column, the raw batch) raises instead of
    silently skewing the dedup decisions."""
    import pytest

    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    hist = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    index = build_dedup_index(hist).localCheckpoint()
    for wrong in (build_dedup_index(batch).drop("sig"), batch):
        with pytest.raises(ValueError, match="batch_index columns"):
            dedup_batch_against_index(batch, index, batch_index=wrong)


def test_incremental_dedup_null_text_out_of_contract(spark):
    """Null-text docs (null fingerprint) bypass exact dedup entirely:
    they never match history's fingerprints AND are excluded from the
    within-batch canonical pass, so two distinct null-text docs are NOT
    collapsed into one (the pre-r5 behavior silently kept only the
    min-id one)."""
    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    hist = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "fresh words only here now ok yes no up dn")],
        "doc_id long, text string",
    )
    index = build_dedup_index(hist).localCheckpoint()
    accepted, _ = dedup_batch_against_index(batch, index)
    assert {r.doc_id for r in accepted.collect()} == {10, 11, 12}


def test_bucket_census_matches_direct_count_and_skew_posture(spark):
    """r9 skew instrument (dedup/census.py): the census must report
    exactly the bucket distribution of the frame the operator joins on
    (validated against a direct groupBy-collect here), and the measured
    posture thresholds hold at test scale:

    - minhash band buckets stay FAR below the pairs_within_groups
      collect_list materialization hazard (documented threshold 10_000
      members/bucket; measured max 4 at sf0.1, 40 at sf1 — census.py
      records the routing plan if a corpus ever crosses it);
    - simhash's template hot bucket IS detected (max_size >> p99 —
      that skew existing is exactly why the census exists; the join
      form streams it, census.py documents the recursive-pigeonhole
      refinement if the throughput tax ever warrants it).
    """
    from collections import Counter

    from etl_school_spark.dedup.census import (
        bucket_size_stats,
        minhash_census,
        simhash_census,
    )
    from etl_school_spark.dedup.simhash import simhash_chunk_rows
    from etl_school_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")

    # census == direct computation over the same blocking frame
    frame = simhash_chunk_rows(docs)
    direct = Counter(
        (r.t, r.key) for r in frame.select("t", "key").collect()
    )
    got = bucket_size_stats(frame, ["t", "key"])
    sizes = sorted(direct.values())
    assert got["rows"] == sum(sizes)
    assert got["n_buckets"] == len(sizes)
    assert got["max_size"] == sizes[-1]
    assert got["pair_expansion"] == sum(s * (s - 1) // 2 for s in sizes)

    sh = simhash_census(docs)
    assert sh == got  # the convenience wrapper censuses the same frame
    # the template skew is real and detected: one hot chunk bucket far
    # beyond the p99 of the distribution
    assert sh["max_size"] > 5 * sh["p99"]

    mh = minhash_census(docs)
    assert mh["rows"] > 0
    # posture threshold: band buckets far below the collect_list hazard
    assert mh["max_size"] < 10_000


def test_incremental_dedup_releases_batch_checkpoints(spark):
    """r9 (ADVICE): a long-lived session replaying many batches must not
    accumulate one stage-boundary checkpoint block set per batch.
    dedup_batch_against_index hands its three truncation points to the
    caller via _esp_checkpoints; release_batch_checkpoints frees them
    once the batch is done (the streaming loop calls it after its
    writes). Cached-RDD census must return to ~baseline; the call is
    idempotent across both returned frames (shared-list semantics)."""
    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
        release_batch_checkpoints,
    )

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    hist = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    index = build_dedup_index(hist).localCheckpoint()
    before = n_cached()
    batch = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine"),
         (11, "totally different words in this second document here")],
        "doc_id long, text string",
    )
    accepted, rows = dedup_batch_against_index(batch, index)
    # run every action the streaming loop runs (materializes the lazy
    # checkpoints), then release
    assert len(accepted.collect()) == 2 and len(rows.collect()) == 2
    assert n_cached() > before  # truncation blocks are live
    assert release_batch_checkpoints(accepted, rows) == 3
    assert release_batch_checkpoints(accepted, rows) == 0  # idempotent
    assert n_cached() <= before, (before, n_cached())


def test_hot_bucket_probe_deterministic(spark):
    """r11 (ADVICE): the probe's sample cap is ORDERED (orderBy hash
    residue before the limit — TakeOrderedAndProject), so the measured
    pass-rate is a pure function of the data: repeated calls, including
    over a reshuffled copy of the same blocking frame (different
    partition/task order), must agree exactly."""
    from etl_school_spark.dedup import simhash as sh

    docs = []
    for f in range(3):
        base = " ".join(f"detbase{f}tok{i}" for i in range(40))
        for m in range(60):
            docs.append((f * 1000 + m, base + f" uniq{f}x{m}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ids = sh.simhash_chunk_rows(df)
    r1 = sh._hot_bucket_pass_rate(ids, hot_threshold=10, max_hamming=3)
    r2 = sh._hot_bucket_pass_rate(ids, hot_threshold=10, max_hamming=3)
    r3 = sh._hot_bucket_pass_rate(
        ids.repartition(7, "doc"), hot_threshold=10, max_hamming=3
    )
    assert r1 is not None
    assert r1 == r2 == r3


def test_simhash_dup_groups_matches_pairs_components(spark):
    """r11: simhash_dup_groups (signature-quotient collapse: intra-sig
    star edges + one rep per distinct signature through the blocked
    pair join) must label EXACTLY the components of the full
    simhash_near_pairs graph — on a true-duplicate corpus (many
    identical signatures: the quotient's win case), a boilerplate
    corpus (hot buckets of distinct sigs: the refinement regime), and
    a mixed corpus with byte-identical texts."""
    from etl_school_spark.dedup import simhash as sh
    from etl_school_spark.dedup.cluster import connected_components

    def corpora():
        truedup = []
        for f in range(3):
            base = " ".join(f"contract{f}w{i}" for i in range(30))
            for m in range(30):
                truedup.append(
                    (f * 1000 + m, base + (f" amendment{m % 2}" if m % 3 else ""))
                )
        boiler = []
        for f in range(2):
            base = " ".join(f"boiler{f}tok{i}" for i in range(40))
            for m in range(30):
                boiler.append((f * 1000 + m, base + f" u{f}x{m}a u{f}x{m}b u{f}x{m}c"))
        mixed = truedup[:40] + [(9000 + i, t) for i, (_, t) in enumerate(truedup[:5])]
        return {"truedup": truedup, "boiler": boiler, "mixed": mixed}

    for name, rows in corpora().items():
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = sh.simhash_near_pairs(df, max_hamming=3, chunks=4).select(
            "id_a", "id_b"
        )
        want = {
            (r.node, r.component)
            for r in connected_components(pairs, collect_cap=1_000_000).collect()
        }
        got = {
            (r.node, r.component)
            for r in sh.simhash_dup_groups(df, max_hamming=3, chunks=4).collect()
        }
        assert got == want, (name, len(got), len(want))
        assert len(got) > 0, name


def test_minhash_dup_groups_matches_pairs_components(spark):
    """r11: minhash_dup_groups (shingle-set quotient: identical
    nonempty sets → min-doc star cliques, one rep per distinct set
    through the ordinary band+verify pipeline) must label EXACTLY the
    components of the full minhash_lsh_pairs graph — including LSH
    false-negative semantics (both are pure functions of the sets) —
    on corpora with byte-identical copies, near-dups, distinct docs,
    and empty/short texts (excluded from both contracts)."""
    from etl_school_spark.dedup.cluster import connected_components
    from etl_school_spark.dedup.minhash import minhash_dup_groups, minhash_lsh_pairs

    rows = []
    for f in range(4):
        base = " ".join(f"grp{f}tok{i}" for i in range(25))
        for m in range(8):
            rows.append((f * 100 + m, base))  # exact copies: the clique
        for m in range(3):  # near-dups of the family base
            rows.append((f * 100 + 50 + m, base + f" extra{f}x{m}"))
    rows += [(9000 + i, f"unique doc {i} " + " ".join(f"u{i}w{j}" for j in range(20)))
             for i in range(10)]
    rows += [(9900, ""), (9901, "two words"), (9902, "")]  # no shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for threshold in (0.8, 0.5):
        pairs = minhash_lsh_pairs(df, threshold=threshold).select("id_a", "id_b")
        want = {
            (r.node, r.component)
            for r in connected_components(pairs, collect_cap=1_000_000).collect()
        }
        got = {
            (r.node, r.component)
            for r in minhash_dup_groups(df, threshold=threshold).collect()
        }
        assert got == want, (threshold, len(got), len(want))
        assert len(got) > 0
        assert not any(n >= 9900 for n, _ in got)  # empty sets never pair

    import pytest

    with pytest.raises(ValueError, match="threshold"):
        minhash_dup_groups(df, threshold=1.5)


def test_ngram_dup_groups_matches_pairs_components(spark):
    """r11: ngram_dup_groups (shingle-set quotient over the PPJoin
    pipeline) must label EXACTLY the components of the full
    ngram_jaccard_pairs graph — the rep pipeline's prefix order derives
    from rep frequencies (pruning-only), so output equality here also
    re-proves the prefix filter's order-independence."""
    from etl_school_spark.dedup.cluster import connected_components
    from etl_school_spark.dedup.ngram import ngram_dup_groups, ngram_jaccard_pairs

    rows = []
    for f in range(3):
        base = " ".join(f"fam{f}tok{i}" for i in range(20))
        for m in range(6):
            rows.append((f * 100 + m, base))  # exact copies
        for m in range(3):
            rows.append((f * 100 + 50 + m, base + f" tail{f}m{m}"))  # near-dups
    rows += [(9000 + i, " ".join(f"solo{i}w{j}" for j in range(15))) for i in range(6)]
    rows += [(9900, ""), (9901, "just two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for threshold in (0.8, 0.55):
        pairs = ngram_jaccard_pairs(df, threshold=threshold).select("id_a", "id_b")
        want = {
            (r.node, r.component)
            for r in connected_components(pairs, collect_cap=1_000_000).collect()
        }
        got = {
            (r.node, r.component)
            for r in ngram_dup_groups(df, threshold=threshold).collect()
        }
        assert got == want, (threshold, len(got), len(want))
        assert len(got) > 0


def test_simhash_refine_threshold_output_exact(spark):
    """r9: recursive-pigeonhole refinement (simhash_near_pairs
    refine_threshold) must be OUTPUT-EXACT at every threshold — the
    documented escalation for census-detected hot chunk buckets,
    proven, not just planned. The fixture plants a template corpus
    (many docs sharing boilerplate => hot chunk buckets, like the
    driver's documents table) plus background docs, and compares the
    refined pair set at several thresholds (including 0 = every bucket
    refined, and a mid value splitting hot/small paths) against the
    plain single-join form, pairs AND distances."""
    docs = []
    # 12 template families x 8 members: shared boilerplate + tiny edits
    for f in range(12):
        base = f"contract section {f} whereas party agrees terms apply " \
               f"generally to all schedules annex {f} conditions"
        for m in range(8):
            docs.append((f * 100 + m, base + (f" amendment {m}" if m else "")))
    # background: unrelated docs
    for i in range(60):
        docs.append((10_000 + i, f"totally unrelated text number {i} with "
                                 f"different words entirely {i * 7} and {i * 13}"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    from etl_school_spark.dedup.simhash import simhash_near_pairs

    def pairs(**kw):
        return {
            (r.id_a, r.id_b): r.hamming_dist
            for r in simhash_near_pairs(df, max_hamming=3, chunks=4, **kw).collect()
        }

    base_pairs = pairs()
    assert len(base_pairs) > 0  # template families produce near-dups
    for thr in (0, 4, 20):
        assert pairs(refine_threshold=thr) == base_pairs, f"thr={thr}"


def test_minhash_sig_arrow_matches_hof(spark):
    """r10: the Arrow signature form (numpy affine mins + reduceat
    segment mins) must produce bit-identical sig arrays to the HOF
    expression, NULL-for-empty included."""
    from etl_school_spark.dedup.minhash import minhash_signatures
    from etl_school_spark.dedup.ngram import shingle_sets
    from etl_school_spark.tables import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "text")
        .limit(200)
    )
    short = spark.createDataFrame(
        [(90_001, "a b"), (90_002, ""), (90_003, None)],
        "doc_id long, text string",
    )
    sets = shingle_sets(docs.unionByName(short), "doc_id", "text", 3)
    hof = {
        r.doc: (list(r.sig) if r.sig is not None else None)
        for r in minhash_signatures(sets).select("doc", "sig").collect()
    }
    arrow = {
        r.doc: (list(r.sig) if r.sig is not None else None)
        for r in minhash_signatures(sets, sig_form="arrow").select("doc", "sig").collect()
    }
    assert hof == arrow
    assert arrow[90_001] is None  # shorter than the shingle width → NULL
    assert sum(v is not None for v in arrow.values()) > 100


def test_simhash_auto_refine_census_dispatch(spark, probe_memo, monkeypatch):
    """r10: refine_threshold="auto" implements the census-driven enable
    the r9 SCALING entry left manual. A planted BOILERPLATE corpus (hot
    chunk buckets whose pairs fail the hamming verify — measured
    pass-rate ~0.05) must dispatch to the refined plan; a planted
    TRUE-DUP corpus (hot buckets of near-identical template docs,
    pass-rate ~0.7) must keep the plain single-join plan. Both choices
    stay output-exact vs the plain form, and the probe is memoized per
    input plan."""
    from etl_school_spark.dedup import simhash as sh

    # boilerplate: heavy shared base + a few unique tokens per doc →
    # docs agree on whole chunks (hot buckets) but pairwise hamming > 3
    boiler = []
    for f in range(3):
        base = " ".join(f"boiler{f}tok{i}" for i in range(40))
        for m in range(40):
            uniq = " ".join(f"u{f}x{m}y{j}" for j in range(3))
            boiler.append((f * 1000 + m, base + " " + uniq))
    boiler_df = spark.createDataFrame(boiler, "doc_id long, text string")

    # true duplicates: template families with tiny (or no) edits →
    # hot buckets whose pairs PASS the verify
    truedup = []
    for f in range(3):
        base = " ".join(f"contract{f}w{i}" for i in range(30))
        for m in range(40):
            truedup.append((f * 1000 + m, base + (f" amendment{m}" if m % 2 else "")))
    truedup_df = spark.createDataFrame(truedup, "doc_id long, text string")

    monkeypatch.setattr(sh, "HOT_THRESHOLD", 10)

    def run(df, **kw):
        q = sh.simhash_near_pairs(df, max_hamming=3, chunks=4, **kw)
        plan = q._jdf.queryExecution().analyzed().toString()
        got = {(r.id_a, r.id_b): r.hamming_dist for r in q.collect()}
        return got, "_bsz" in plan  # the size join marks the refined plan

    plain_b, refined = run(boiler_df)
    assert not refined and len(plain_b) > 0
    auto_b, refined = run(boiler_df, refine_threshold="auto")
    assert refined, "boilerplate hot buckets (low pass-rate) must refine"
    assert auto_b == plain_b

    plain_t, _ = run(truedup_df)
    auto_t, refined = run(truedup_df, refine_threshold="auto")
    assert not refined, "true-duplicate hot buckets must keep the plain plan"
    assert auto_t == plain_t and len(plain_t) > 0

    # memoized per (plan, params): a repeat dispatch must not re-probe
    calls = {"n": 0}
    real = sh._hot_bucket_pass_rate

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    sh._hot_bucket_pass_rate = counting
    try:
        run(boiler_df, refine_threshold="auto")
        assert calls["n"] == 0  # memo hit from the run above
        probe_memo.clear()
        run(boiler_df, refine_threshold="auto")
        assert calls["n"] == 1  # fresh session state → one probe
    finally:
        sh._hot_bucket_pass_rate = real


def test_pairs_within_groups_hybrid_routing_exact(spark):
    """r9 hot-bucket routing (operators/pairs.py max_group_size): groups
    past the bound stream their pairs through a self-join of re-exploded
    rows instead of materializing the in-array quadratic. Output must be
    IDENTICAL for every threshold (including 1 = everything routed and
    a mid value splitting the paths), the expensive child must still run
    once (the two branches share one ReuseExchange-deduplicated groupBy
    exchange), and the minhash pass-through must give identical verified
    pairs."""
    import random

    from etl_school_spark.dedup.minhash import minhash_lsh_pairs
    from etl_school_spark.operators.pairs import pairs_within_groups

    rng = random.Random(31)
    # overlapping groups with planted hot keys and duplicate memberships
    rows = []
    for i in range(200):
        for g in rng.sample(range(12), rng.choice([1, 1, 2, 3])):
            rows.append((g if g < 3 else g + i % 4, i))  # keys 0-2 are hot
    df = spark.createDataFrame(rows, "grp int, id long")

    # a null-keyed hot group: the array branch pairs these ids, so the
    # join branch must too (eqNullSafe — plain `=` silently drops them)
    for i in range(40):
        rows.append((None, 1000 + i))
    df = spark.createDataFrame(rows, "grp int, id long")

    base = {(r.id_a, r.id_b) for r in pairs_within_groups(df, ["grp"], "id").collect()}
    assert len(base) > 0
    for thr in (1, 25, 10**6):
        hyb = pairs_within_groups(df, ["grp"], "id", max_group_size=thr)
        got = {(r.id_a, r.id_b) for r in hyb.collect()}
        assert got == base, f"max_group_size={thr}"
    # child runs once: in the FINAL adaptive plan all three consumers
    # (small-branch aggregate, both join sides) read ONE groupBy
    # exchange — two ReusedExchange nodes, no second aggregation child
    hyb = pairs_within_groups(df, ["grp"], "id", max_group_size=25)
    hyb.collect()
    final = (
        hyb._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    grp_exch = [
        l for l in final.splitlines()
        if "Exchange hashpartitioning(grp" in l and "ReusedExchange" not in l
    ]
    assert len(grp_exch) == 1, final
    assert final.count("ReusedExchange") == 2, final

    docs = spark.createDataFrame(
        [(i, f"doc {i % 7} shares shingles with family {i % 7} member {i}")
         for i in range(40)],
        "doc_id long, text string",
    )
    plain = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    routed = {(r.id_a, r.id_b): r.jaccard
              for r in minhash_lsh_pairs(docs, threshold=0.5, hot_band_threshold=2).collect()}
    assert plain == routed and len(plain) > 0


def test_semantic_census_matches_direct_count(spark):
    """r9: the semantic-cell census reports exactly the cell distribution
    of the assignment frame semantic_dedup self-joins, and its
    pair_expansion is the exact candidate count of the within-cell
    join."""
    from collections import Counter

    from etl_school_spark.dedup.census import semantic_census
    from etl_school_spark.similarity.ivf import _nearest_cell, train_centroids
    from etl_school_spark.tables import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    got = semantic_census(embs, n_cells=8)
    cents = train_centroids(embs, n_cells=8)
    cells = [
        r.cell
        for r in embs.select(
            _nearest_cell(F.col("embedding"), cents).alias("cell")
        ).collect()
    ]
    sizes = Counter(cells)
    assert got["rows"] == len(cells)
    assert got["n_buckets"] == len(sizes)
    assert got["max_size"] == max(sizes.values())
    assert got["pair_expansion"] == sum(s * (s - 1) // 2 for s in sizes.values())


def test_semantic_census_auto_applies_sqrt_rule(spark):
    """r10: semantic_census(n_cells="auto") measures the posture of
    semantic_dedup's r10 default — cell count ⌈√n⌉ derived from one
    corpus count, identical to passing it explicitly."""
    from etl_school_spark.dedup.census import semantic_census
    from etl_school_spark.similarity.semantic import _auto_cells
    from etl_school_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    want_cells = _auto_cells(embs.count())
    auto = semantic_census(embs)
    explicit = semantic_census(embs, n_cells=want_cells)
    assert auto == explicit
    assert auto["n_buckets"] <= want_cells  # empty cells don't appear


def test_bucket_size_stats_empty_frame_returns_zeros(spark):
    """r10 ADVICE: an empty blocking frame (every signature NULL, or an
    empty table) must census to zeros, not crash on int(None) from the
    NULL global-agg row."""
    from etl_school_spark.dedup.census import bucket_size_stats, minhash_census

    empty = spark.createDataFrame([], "t int, key long")
    assert bucket_size_stats(empty, ["t", "key"]) == {
        "rows": 0,
        "n_buckets": 0,
        "max_size": 0,
        "p50": 0.0,
        "p99": 0.0,
        "pair_expansion": 0,
    }
    # the motivating end-to-end case: a corpus where every doc is shorter
    # than the shingle width signs to NULL, leaving zero band rows
    docs = spark.createDataFrame([(1, "a b"), (2, "x")], "doc_id long, text string")
    got = minhash_census(docs, n=9)
    assert got["rows"] == 0 and got["pair_expansion"] == 0


def test_shared_scan_injection_matches_internal(spark):
    """r11: the sets=/sigs= injection params (one scan feeding the pairs
    AND groups contracts — the registered suites' shape) are
    output-identical to the functions' internal scans."""
    from etl_school_spark.dedup.minhash import minhash_dup_groups, minhash_lsh_pairs
    from etl_school_spark.dedup.ngram import shingle_sets
    from etl_school_spark.dedup.simhash import (
        simhash_dup_groups,
        simhash_near_pairs,
        simhash_signature_rows,
    )

    rows = []
    base = " ".join(f"tok{i}" for i in range(30))
    for m in range(6):
        rows.append((m, base))
    for m in range(3):
        rows.append((50 + m, base + f" tail{m}"))
    rows += [(90 + i, f"solo {i} " + " ".join(f"s{i}w{j}" for j in range(15)))
             for i in range(5)]
    rows += [(990, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from pyspark.sql import functions as F

    from etl_school_spark.dedup.minhash import minhash_signatures

    sets = shingle_sets(df, "doc_id", "text", 3).localCheckpoint(eager=False)
    signed = (
        minhash_signatures(sets).filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=False)
    )
    for fn, kw in (
        (minhash_lsh_pairs, dict(threshold=0.8, n=3)),
        (minhash_dup_groups, dict(threshold=0.8, n=3)),
    ):
        internal = {tuple(r) for r in fn(df, **kw).collect()}
        injected = {tuple(r) for r in fn(df, sets=sets, **kw).collect()}
        assert injected == internal and internal
        injected2 = {tuple(r) for r in fn(df, sets=sets, signed=signed, **kw).collect()}
        assert injected2 == internal

    sigs = simhash_signature_rows(df).localCheckpoint(eager=False)
    for fn, kw in (
        (simhash_near_pairs, dict(max_hamming=3, chunks=4)),
        (simhash_dup_groups, dict(max_hamming=3, chunks=4)),
    ):
        internal = {tuple(r) for r in fn(df, **kw).collect()}
        injected = {tuple(r) for r in fn(df, sigs=sigs, **kw).collect()}
        assert injected == internal and internal


def test_band_rows_rejects_mismatched_sig_width(spark):
    """r11 review fix: a signed frame built with a different num_perm
    must fail loudly — a silent slice-past-the-end melts the tail bands
    into corpus-sized constant buckets."""
    import pytest
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from etl_school_spark.dedup.minhash import band_rows, minhash_signatures
    from etl_school_spark.dedup.ngram import shingle_sets

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    sets = shingle_sets(df, "doc_id", "text", 3)
    narrow = minhash_signatures(sets, 64).filter(F.col("sig").isNotNull())
    with pytest.raises(PySparkException, match="num_perm"):
        band_rows(narrow, 128, 32).count()
    # valid widths pass untouched
    ok = minhash_signatures(sets, 128)
    assert band_rows(ok.filter(F.col("sig").isNotNull()), 128, 32).count() > 0


def test_band_rows_drops_null_sigs(spark):
    """r12 ADVICE: NULL sigs (no-shingle docs) must be dropped INSIDE
    band_rows — every NULL sig hashes to the same constant band_hash,
    so a caller that skipped the documented isNotNull pre-filter would
    silently build one corpus-sized bucket of no-shingle docs."""
    from pyspark.sql import functions as F

    from etl_school_spark.dedup.minhash import band_rows, minhash_signatures
    from etl_school_spark.dedup.ngram import shingle_sets

    df = spark.createDataFrame(
        # docs 2 and 3 have < n words → empty shingle set → NULL sig
        [(1, "a b c d e f"), (2, "x"), (3, "y")],
        "doc_id long, text string",
    )
    signed = minhash_signatures(shingle_sets(df, "doc_id", "text", 3), 128)
    assert signed.filter(F.col("sig").isNull()).count() == 2
    rows = band_rows(signed, 128, 32)  # deliberately NO caller filter
    assert rows.filter(F.col("doc").isin(2, 3)).count() == 0
    assert rows.filter(F.col("doc") == 1).count() == 32


def test_simhash_groups_probe_memoizes_across_warm_calls(
    spark, probe_memo, monkeypatch
):
    """r11 review fix: the groups-branch refine probe keys on the STABLE
    docs plan (+ variant), so warm re-invocations reuse the memo instead
    of re-running the probe (the old key — a per-call localCheckpoint
    derivative — changed hash every call)."""
    from etl_school_spark.dedup import simhash as sh

    rows = [(i, "tmpl " + " ".join(f"w{j}" for j in range(20))) for i in range(40)]
    rows += [(100 + i, f"uniq {i} " + " ".join(f"u{i}{j}" for j in range(15)))
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    calls = {"n": 0}
    real = sh._hot_bucket_pass_rate

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(sh, "_hot_bucket_pass_rate", counting)
    monkeypatch.setattr(sh, "HOT_THRESHOLD", 5)
    sh.simhash_dup_groups(df, max_hamming=3, chunks=4).count()
    first = calls["n"]
    sh.simhash_dup_groups(df, max_hamming=3, chunks=4).count()
    assert calls["n"] == first, "warm call re-ran the probe (memo miss)"
    # and the pairs variant keeps its own entry (no cross-contamination)
    sh.simhash_near_pairs(
        df, max_hamming=3, chunks=4, refine_threshold="auto"
    ).count()
    assert calls["n"] == first + 1


def test_dup_groups_with_singletons_full_table(spark):
    """r12 (VERDICT item 6): with_singletons=True turns the groups
    contract into the full dedup table — every in-contract doc appears
    exactly once, singletons labeled with themselves, clustered docs
    unchanged from the default output. Out-of-contract docs (empty
    shingle set for the set quotients) stay excluded."""
    from pyspark.sql import functions as F

    from etl_school_spark.dedup.minhash import minhash_dup_groups
    from etl_school_spark.dedup.ngram import ngram_dup_groups
    from etl_school_spark.dedup.simhash import simhash_dup_groups

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base),
            (4, "an entirely different document about winter weather patterns"),
            (5, "yet another unrelated text concerning maritime navigation rules"),
            (6, ""),  # out of contract for the set quotients (empty set)
        ],
        "doc_id long, text string",
    )
    for fn, kw, universe in (
        (ngram_dup_groups, dict(threshold=0.8, n=3), {1, 2, 3, 4, 5}),
        (minhash_dup_groups, dict(threshold=0.8, n=3), {1, 2, 3, 4, 5}),
        # simhash signs every doc (empty text included), so doc 6 is in
        # contract there and labels as its own singleton unless the
        # empty-sig clique absorbs it — assert presence, not label
        (simhash_dup_groups, dict(max_hamming=3, chunks=4), {1, 2, 3, 4, 5, 6}),
    ):
        default = {(r.node, r.component) for r in fn(df, **kw).collect()}
        full = {(r.node, r.component) for r in fn(df, with_singletons=True, **kw).collect()}
        nodes = {n for n, _ in full}
        assert nodes == universe, f"{fn.__name__}: universe mismatch {nodes}"
        assert default <= full, f"{fn.__name__}: clustered labels changed"
        for n, c in full - default:
            assert n == c, f"{fn.__name__}: singleton {n} mislabeled {c}"
        # exactly-once: no doc appears under two components
        assert len(nodes) == len(full), f"{fn.__name__}: duplicate nodes"


def test_quotient_components_deferred_branch_matches_union(spark):
    """r12: quotient_components dispatches tiny star counts back to the
    union fast path, so the DEFERRED branch (components over the rep
    graph + member join) needs its own CI pin — forced here two ways:
    collect_cap=None (always defers, distributed loop) and a cap
    smaller than the star count (defers with the capped rep graph).
    Both must equal the plain union-path labels on a clique-heavy
    corpus."""
    from etl_school_spark.dedup.ngram import ngram_dup_groups
    from etl_school_spark.dedup.simhash import simhash_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(40)]  # one 40-member exact clique
    rows += [(100, base + " tail"), (101, base + " tail")]  # second clique
    rows += [(200 + i, f"unique text number {i} with words {i * 7}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for fn, kw in (
        (ngram_dup_groups, dict(threshold=0.8, n=3)),
        (simhash_dup_groups, dict(max_hamming=3, chunks=4)),
    ):
        union_path = {tuple(r) for r in fn(df, collect_cap=1_000_000, **kw).collect()}
        deferred_loop = {tuple(r) for r in fn(df, collect_cap=None, **kw).collect()}
        deferred_capped = {tuple(r) for r in fn(df, collect_cap=5, **kw).collect()}
        assert union_path == deferred_loop == deferred_capped
        assert union_path  # non-trivial: the cliques must cluster


def test_quotient_components_checkpoint_dir_with_cap(spark, durable_checkpoints):
    """r12 ADVICE (medium): quotient_components in durable mode with a
    collect_cap crashed with 'Checkpoint directory has not been set' —
    the dispatch probe checkpointed its stars leaf before anything
    registered the directory. Both dispatch branches must work in
    reliable mode, and the deferred branch must write reliable
    checkpoint FILES of its own (its sj/output truncations once
    hardcoded localCheckpoint, silently dropping the fault-tolerance
    guarantee durable mode documents)."""
    from etl_school_spark.dedup.cluster import quotient_components

    def files():
        return {f for f in durable_checkpoints.rglob("*") if f.is_file()}

    rep_pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    stars = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "id_a long, id_b long"
    )
    # the quotient leaf: one row per clique with its member count, so
    # the star count is (3 + 2) - 2 = 3
    reps = spark.createDataFrame([(1, 3), (2, 2)], "_rep long, _csize long")
    want = {(1, 1), (2, 1), (10, 1), (11, 1), (20, 1)}
    for cap, sub in ((1_000_000, "union"), (1, "deferred")):
        before = files()
        out = quotient_components(rep_pairs, stars, reps, collect_cap=cap)
        assert {(r.node, r.component) for r in out.collect()} == want, sub
    assert files() - before, "no reliable checkpoint written by the deferred branch"


def test_dup_groups_release_working_leaves(spark):
    """r12 ADVICE: each *_dup_groups call used to leave its stars leaf
    (and the star-join leaf beneath the returned plan) persisted for
    the session lifetime — O(star-edges) blocks per call. After r13 the
    returned labels frame is a self-contained leaf and every working
    leaf (shingle sets, reps, star join, rep labels) is released, so
    repeated calls accumulate at most the retained OUTPUT leaf each."""
    from etl_school_spark.dedup.ngram import ngram_dup_groups

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(40)]
    rows += [(200 + i, f"unique text number {i} with words {i * 7}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = n_cached()
    for _ in range(3):
        # collect_cap=0 forces the deferred branch — the one that builds
        # the star-join and output leaves this test pins the release of
        out = ngram_dup_groups(df, threshold=0.8, n=3, collect_cap=0)
        assert out.count() > 0
    growth = n_cached() - before
    assert growth <= 4, (before, growth)  # ≤ 1 output leaf per call + slack


def test_release_plan_blocks_reflection_canary(spark):
    """r12 VERDICT: _release_plan_blocks reaches through the private
    df._jdf.queryExecution().analyzed().rdd() chain and swallows every
    failure by design (correctness never depends on the release) — so a
    Spark upgrade that renames any link would silently re-open the
    storage leak it exists to prevent. This canary exercises each link
    LOUDLY on the pinned Spark: if it fails, fix the reflection path."""
    from etl_school_spark.dedup.cluster import _release_plan_blocks

    df = spark.range(64).localCheckpoint(eager=True)
    plan = df._jdf.queryExecution().analyzed()  # raises if renamed
    assert plan.nodeName() == "LogicalRDD", plan.nodeName()
    rdd = plan.rdd()  # raises if LogicalRDD stops exposing its RDD
    sc = spark.sparkContext
    with_blocks = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    assert rdd.id() in with_blocks, "checkpoint leaf holds no blocks?"
    _release_plan_blocks(df)
    after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    assert rdd.id() not in after, "release no longer frees the leaf"


def test_dup_groups_respect_session_checkpoint_dir_conf(spark, request):
    """r13 (r12 VERDICT item 3): setting
    ``spark.etl_school.checkpoint_dir`` on the session routes the
    components/quotient truncation points through RELIABLE
    Dataset.checkpoint — the durable posture for real clusters, where
    executor loss invalidates executor-local truncated lineage — with
    labels identical to local mode on both dispatch branches."""
    from etl_school_spark.dedup.ngram import ngram_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(30)]
    rows += [(200 + i, f"unique text number {i} with words {i * 7}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {tuple(r) for r in ngram_dup_groups(df, threshold=0.8, n=3).collect()}
    ckpt = request.getfixturevalue("durable_checkpoints")
    got_union = {tuple(r) for r in ngram_dup_groups(df, threshold=0.8, n=3).collect()}
    got_deferred = {
        tuple(r)
        for r in ngram_dup_groups(df, threshold=0.8, n=3, collect_cap=0).collect()
    }
    assert got_union == want == got_deferred
    files = list(ckpt.rglob("*"))
    assert any(f.is_file() for f in files), "no reliable checkpoint written"


def test_operator_leaves_respect_session_checkpoint_dir_conf(spark, request):
    """r14 (VERDICT item 2): r13's durable-checkpoint conf covered the
    components/quotient truncations but the OPERATOR WORKING LEAVES
    (shingle sets, signature scans, quotient reps, the incremental
    pipeline's stage boundaries) stayed hardcoded localCheckpoint even
    in durable mode. After operator_leaf threads the dispatch through
    every truncation point in the registered dedup paths: outputs are
    identical in both modes, the durable run writes reliable checkpoint
    files, and — the sharp part — it creates ZERO new localCheckpoint
    storage blocks (reliable checkpoints live in the checkpoint dir,
    not the block manager, so any growth means a leaf the conf missed)."""
    from etl_school_spark.dedup.cluster import operator_leaf
    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
        release_batch_checkpoints,
    )
    from etl_school_spark.dedup.minhash import minhash_dup_groups
    from etl_school_spark.dedup.simhash import simhash_dup_groups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(24)]
    rows += [
        (100 + i, f"unique text number {i} with words {i * 7} tail {i * 13}")
        for i in range(8)
    ]
    rows += [(300, None)]  # null text: simhash singleton, null fp in batch
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gen0 = df.filter("doc_id < 12")
    batch = df.filter("doc_id >= 12")

    # default mode (localCheckpoint leaves) — the expected outputs
    want_mh = {tuple(r) for r in minhash_dup_groups(df, threshold=0.8).collect()}
    want_sh = {
        tuple(r) for r in simhash_dup_groups(df, with_singletons=True).collect()
    }
    idx = build_dedup_index(gen0).localCheckpoint(eager=True)
    acc, acc_rows = dedup_batch_against_index(batch, idx, threshold=0.8)
    want_acc = {r.doc_id for r in acc.select("doc_id").collect()}
    release_batch_checkpoints(acc, acc_rows)

    sc = spark.sparkContext

    def n_blocks() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    ckpt = request.getfixturevalue("durable_checkpoints")
    before = n_blocks()
    got_mh = {
        tuple(r) for r in minhash_dup_groups(df, threshold=0.8).collect()
    }
    got_sh = {
        tuple(r)
        for r in simhash_dup_groups(df, with_singletons=True).collect()
    }
    d_idx = operator_leaf(build_dedup_index(gen0))
    d_acc, _ = dedup_batch_against_index(batch, d_idx, threshold=0.8)
    got_acc = {r.doc_id for r in d_acc.select("doc_id").collect()}
    growth = n_blocks() - before
    assert got_mh == want_mh
    assert got_sh == want_sh
    assert got_acc == want_acc
    # ContextCleaner can only SHRINK the count mid-run, so growth > 0
    # can only come from a truncation point still on localCheckpoint
    assert growth <= 0, growth
    files = [f for f in ckpt.rglob("*") if f.is_file()]
    assert files, "no reliable checkpoint written by the operator leaves"
