"""Exact n-gram Jaccard near-dup detection via an inverted-index self-join
with prefix filtering.

Baseline (``ngram_jaccard_pairs_postings``, the classic shape):
1. shingle each doc into distinct word n-grams
2. explode to (shingle, doc) postings and self-join on shingle —
   every pair sharing ≥1 shingle becomes a candidate exactly once per
   shared shingle; counting rows per pair yields |A ∩ B|
3. join back each side's shingle-set size; Jaccard = inter/(|A|+|B|-inter)
4. filter ≥ threshold

Registered path (``ngram_jaccard_pairs``) adds PREFIX FILTERING, the
classic exact refinement (Chaudhuri et al. SSJoin / Xiao et al. PPJoin):
under a global canonical shingle order (ascending corpus frequency,
shingle value as tiebreak), a pair with Jaccard ≥ t MUST share a shingle
within each side's first ``|S| - ceil(t·|S|) + 1`` shingles. Joining only
those prefixes keeps exactness while

- shrinking postings by ~t of every doc's shingles, and
- dropping the HOTTEST shingles from the join (prefixes keep the rarest
  ones), which kills the posting-list skew a frequency-heavy corpus
  produces at 100 TB scale.

Candidates are then verified exactly with a JVM-side
``array_intersect`` on the full shingle sets — no Python, no rescan of
the pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.dedup.cluster import operator_leaf
from etl_school_spark.functions.text import word_shingles


def shingle_sets(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # the shared scan entry of the Jaccard family (ngram, minhash,
    # incremental index): shingling + downstream md5 signatures are
    # fold-heavy PRE-shuffle work, so restore parallelism here once —
    # a single-file scan otherwise runs it all on one core (no-op when
    # the scan is already parallel; tables.fan_out)
    from etl_school_spark.tables import fan_out

    docs = fan_out(docs)
    return docs.select(
        F.col(id_col).alias("doc"),
        word_shingles(text_col, n).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))


def _jaccard_from_inter(inter: DataFrame, threshold: float) -> DataFrame:
    # raw double division of identical ints is bit-identical across engines;
    # rounding would only add half-way-boundary risk
    jac = F.col("inter").cast("double") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_postings(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Baseline inverted-index join (no prefix filter) — kept as the
    equivalence yardstick for the prefix-filtered path."""
    sets = shingle_sets(docs, id_col, text_col, n)
    postings = sets.select("doc", "set_size", F.explode("shingles").alias("shingle"))

    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
) -> DataFrame:
    """All unordered pairs (i < j) with word-n-gram Jaccard ≥ threshold,
    via exact prefix filtering (see module doc).

    Returns columns: id_a, id_b, jaccard (double).

    ``sets`` (r11): a precomputed ``shingle_sets(docs, id_col, text_col,
    n)`` frame (caller's contract) to share the shingle scan across
    contracts. When absent the scan is materialized internally — the
    PPJoin references it from postings, the frequency ranking, and both
    verify sides, so the lazy plan re-derived the shingling fold ~5×
    (sf1 A/B: 9.37 → 6.14 s median, identical 250,600 pairs)."""
    if sets is None:
        # operator_leaf (r14): honors spark.etl_school.checkpoint_dir —
        # reliable checkpoint in durable mode, localCheckpoint otherwise
        sets = operator_leaf(shingle_sets(docs, id_col, text_col, n))
    return _jaccard_pairs_from_sets(sets, threshold)


def _jaccard_pairs_from_sets(sets: DataFrame, threshold: float) -> DataFrame:
    """The PPJoin core of ngram_jaccard_pairs over a pre-built
    (doc, shingles, set_size) frame — split out in r11 so
    ngram_dup_groups can run the identical machinery over the
    distinct-set representatives. The prefix order is derived from the
    INPUT frame's shingle frequencies; order affects pruning only,
    never the output (both pruning filters are necessary conditions
    for Jaccard ≥ t), so the quotiented input yields exactly the
    rep-pair subset of the full output."""
    postings = sets.select("doc", "set_size", F.explode("shingles").alias("shingle"))

    # global canonical order: ascending corpus frequency, shingle tiebreak
    freq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    ranked = postings.join(freq, "shingle")
    w = Window.partitionBy("doc").orderBy("freq", "shingle")
    # prefix length |S| - ceil(t·|S|) + 1; the 1e-9 guard keeps ceil from
    # rounding an exact integer product UP off a float representation
    # error (which would shrink the prefix and break exactness)
    plen = F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9)) + 1
    prefixes = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= plen)
        .select("doc", "shingle", "set_size", "_rn")
    )

    a = prefixes.alias("a")
    b = prefixes.alias("b")
    sz_a, sz_b = F.col("a.set_size"), F.col("b.set_size")
    # exact candidate pruning BEFORE the pair dedup + verify joins (both
    # filters are necessary conditions for Jaccard ≥ t, so no qualifying
    # pair is lost; every epsilon is biased toward keeping):
    # 1. length filter: jaccard ≤ min/max, so min ≥ t·max must hold
    # 2. PPJoin positional filter (Xiao et al. 2008): for the FIRST shared
    #    prefix shingle, |A∩B| ≤ 1 + min(|A|−posA, |B|−posB); a qualifying
    #    pair needs |A∩B| ≥ ceil(t·(|A|+|B|)/(1+t)), and its first-match
    #    row always satisfies the bound, so keeping pairs where ANY match
    #    row passes is exact. At sf0.1 this prunes the candidate set
    #    ~40× (118 826 → ~3 000), which is where the verify cost lives.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (sz_a + sz_b) - F.lit(1e-9)
    )
    overlap_ubound = F.lit(1) + F.least(sz_a - F.col("a._rn"), sz_b - F.col("b._rn"))
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.least(sz_a, sz_b) >= F.lit(threshold) * F.greatest(sz_a, sz_b) - F.lit(1e-9))
            & (overlap_ubound >= min_overlap),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sets.select(
        F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"), F.col("set_size").alias("size_a")
    )
    sb = sets.select(
        F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"), F.col("set_size").alias("size_b")
    )
    inter = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
        .filter(F.col("inter") > 0)
    )
    return _jaccard_from_inter(inter, threshold)


def ngram_dup_groups(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    collect_cap: int | None = 1_000_000,
    sets: DataFrame | None = None,
    with_singletons: bool = False,
) -> DataFrame:
    """(node, component) — connected components of the exact
    ngram_jaccard_pairs graph (r11), completing the components-contract
    family (simhash_dup_groups / minhash_dup_groups): Jaccard is a pure
    function of the two distinct-shingle sets, so the graph quotients
    EXACTLY by set equality — identical nonempty sets are J = 1 cliques
    (min-doc star edges), and one representative per distinct set runs
    the ordinary PPJoin pipeline, whose rep pairs connect two cliques
    exactly when every cross pair qualifies. Empty sets never pair in
    the pairs contract (no postings, inter > 0 filter) and are excluded
    from the quotient the same way. Only docs with at least one
    near-duplicate are emitted (the connected_components convention);
    ``with_singletons=True`` (r12) additionally emits (doc, doc) for
    every in-contract doc with no duplicate — the full dedup table.

    The PPJoin prefix order inside the rep pipeline derives from REP
    frequencies rather than corpus frequencies — pruning-only, output
    unaffected (_jaccard_pairs_from_sets docstring) — while the
    positional filter's candidate volume now scales with distinct
    documents, not total documents: a copy-heavy corpus collapses
    before the quadratic stage.
    """
    if not 0.0 < threshold <= 1.0:
        # the intra-set cliques assume J(s, s) = 1 qualifies (the
        # minhash_dup_groups guard)
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from etl_school_spark.dedup.cluster import (
        _release_plan_blocks,
        quotient_components,
    )

    # ``sets`` (r11): share the materialized shingle scan with
    # ngram_jaccard_pairs when a pipeline needs both contracts; when we
    # create the leaf ourselves we also own releasing it (r13 below)
    owned_sets = None
    if sets is None:
        # operator_leaf (r14, VERDICT item 2): durable-mode sessions get
        # a reliable checkpoint here too, not just in the quotient loop
        sets = operator_leaf(shingle_sets(docs, id_col, text_col, n))
        owned_sets = sets
    sets = sets.filter(F.col("set_size") > 0)
    # Rep selection is groupBy + join-back, NOT a Window over the set
    # key (r12, VERDICT item 1): Window.partitionBy(array_sort(shingles))
    # cannot split a partition, so every member of a duplicate clique —
    # the hot regime this operator exists for — funnels through ONE task
    # carrying its full shingle array (a doc duplicated 10M× at 100 TB
    # is 10M wide rows through one task). The groupBy form collapses
    # each clique MAP-SIDE via partial aggregation (one row per distinct
    # set leaves each task), and the star join-back's build side is one
    # row per key, so AQE skew-join can split the hot probe partition.
    # Labels are bit-identical (fuzz family 14 + the pairs-components
    # differential); the simhash_dup_groups shape, extended: here the
    # groupBy KEY is the canonical sorted set itself, so rep shingle
    # arrays fall out of the aggregation — no second join to re-attach
    # them. Sorted order is output-safe: the PPJoin derives its prefix
    # order internally (frequency + shingle tiebreak) and the verify is
    # array_intersect — both order-insensitive.
    keyed = sets.select("doc", F.array_sort("shingles").alias("_setkey"))
    # reps is localCheckpoint'ed for TWO measured reasons (r12):
    # 1. skew-splittability — AQE's OptimizeSkewedJoin only matches a
    #    sort-merge join whose children are bare shuffle stages; with
    #    the aggregation fused into the build side the rule silently
    #    skips (verified: a planted 200k-copy clique rode ONE task at a
    #    64 KB skew threshold). Behind the checkpoint the build side is
    #    its own exchange and the hot probe partition splits (measured:
    #    200k-row clique → 32 tasks × 6,250 rows, 'coalesced and
    #    skewed' in the final plan — tools/ab_megaclique.py).
    # 2. reuse — the star join AND the PPJoin's four references
    #    (postings, frequency ranking, both verify sides) read the
    #    materialized quotient instead of re-deriving the groupBy.
    # _csize (r13): per-clique membership count, carried so
    # quotient_components' star count is ONE tiny aggregate over this
    # leaf instead of a corpus-scale count of keyed — pruned out of
    # every downstream join by the explicit selects
    reps = operator_leaf(
        keyed.groupBy("_setkey")
        .agg(F.min("doc").alias("_rep"), F.count(F.lit(1)).alias("_csize"))
    )
    stars = (
        keyed.join(reps, "_setkey")
        .filter(F.col("doc") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc").alias("id_b"))
    )
    rep_sets = reps.select(
        F.col("_rep").alias("doc"),
        F.col("_setkey").alias("shingles"),
        F.size("_setkey").alias("set_size"),
    )
    rep_pairs = _jaccard_pairs_from_sets(rep_sets, threshold).select("id_a", "id_b")
    # components over the REP graph only; star members inherit their
    # rep's label in one skew-splittable join (r12 — the iterative loop
    # no longer scales with the duplication factor, and the capped
    # driver fast path re-engages on copy-heavy corpora; exactness
    # argument and the star count in cluster.quotient_components)
    labels = quotient_components(rep_pairs, stars, reps, collect_cap=collect_cap)
    if with_singletons:
        # ``with_singletons`` (r12): emit (doc, doc) for every
        # in-contract doc (nonempty set) with no near-duplicate — the
        # full keep/drop table callers otherwise re-derive by hand
        from etl_school_spark.dedup.cluster import add_singletons

        labels = add_singletons(labels, keyed, "doc")
    elif owned_sets is not None:
        # labels is a self-contained leaf (quotient_components contract,
        # r13) and nothing else references the shingle-set leaf we
        # created — release it instead of leaking a corpus-scale wide
        # block set per call (with_singletons keeps it: the anti-join
        # universe reads keyed → sets)
        _release_plan_blocks(owned_sets)
    # the reps leaf is fully consumed on every branch once labels
    # materializes (rep PPJoin + star join both truncated behind it)
    _release_plan_blocks(reps)
    return labels
