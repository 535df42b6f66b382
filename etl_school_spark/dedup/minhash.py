"""MinHash + LSH banding near-dup detection (the scale path for Jaccard).

Pipeline (all Catalyst expressions; one shuffle on band buckets):
1. shingle each doc (distinct word n-grams)
2. signature: for each of ``num_perm`` hash seeds i, take
   min over shingles of a seeded md5-derived value — a vectorized
   transform/array_min over the shingle array, JVM-side
3. slice the signature into ``bands`` bands of ``rows_per_band`` and hash
   each band; explode to (band_idx, band_hash, doc)
4. docs colliding in any band become candidate pairs (groupBy-join on the
   band bucket)
5. verify candidates with EXACT Jaccard on the shingle sets, filter ≥ t

Hash choice (Broder's classic construction): each shingle gets ONE
md5-derived integer base hash h (first 15 hex chars → 60-bit int, reduced
mod the Mersenne prime 2^31-1); the ``num_perm`` "permutations" are
affine maps h → (a_i·h + b_i) mod p with seeded constants. One md5 per
shingle instead of ``num_perm`` — the signature pass is ~100× fewer
hash evaluations than hashing (shingle, seed) pairs — and every step is
exact 64-bit integer arithmetic (a_i, h < 2^31 so a_i·h < 2^62),
reproducible in ANSI SQL: md5 + hex-cast + modular arithmetic exist in
every engine, which is what makes the whole pipeline — signatures,
banding, candidates — driver-oracle-checkable end to end.

With 128 perms and 32 bands × 4 rows, the S-curve puts ~0.99 recall at
Jaccard 0.8. False positives are removed by the exact verify; false
negatives are the (quantified, tunable) LSH tradeoff — this is why the
engine also ships the exact inverted-index join (ngram.py): same output
contract, different cost curve. At 100 TB, MinHash shuffles only
O(docs × bands) small rows instead of the posting-list join's
O(postings) — and the signature pass is a single linear scan.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_school_spark.dedup.cluster import operator_leaf
from etl_school_spark.dedup.ngram import shingle_sets
from etl_school_spark.operators.pairs import pairs_within_groups

MERSENNE_31 = 2147483647  # 2^31 - 1, the MinHash value universe


def perm_constants(num_perm: int = 128, seed: int = 9) -> list[tuple[int, int]]:
    """Seeded (a_i, b_i) pairs for the affine permutations — shared by the
    Spark expressions and the generated oracle SQL so both engines apply
    the identical hash family."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31))
        for _ in range(num_perm)
    ]


def base_hash(shingle) -> F.Column:
    """md5-derived integer base hash in [0, 2^31-1): first 15 hex chars
    (60 bits, fits signed int64) reduced mod the Mersenne prime."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % MERSENNE_31


def _sig_arrow_udf(num_perm: int):
    """Vectorized Arrow form of the signature stage (r10): the base-hash
    arrays (still computed JVM-side — md5 stays in codegen) cross to
    Python once per row, and all ``num_perm`` affine mins are computed
    with numpy: per permutation, (a·H + b) mod p over the CONCATENATED
    hash values, then `np.minimum.reduceat` takes each document's
    segment min. Arithmetic is exact and engine-identical: h < 2^31 and
    a < 2^31 keep a·h + b < 2^62 inside int64, and numpy's % on
    non-negative int64 equals the JVM's — so sig values are
    bit-identical to the HOF form (test-pinned). Empty shingle sets
    return NULL, matching the when(size > 0) guard."""
    from pyspark.sql.functions import pandas_udf

    perms = perm_constants(num_perm)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series([], dtype="object")
        # a NULL _hs row (NULL shingles upstream) behaves like the empty
        # set: NULL sig — matching the HOF form's when(size > 0) guard
        # instead of crashing the task on np.asarray(None) (r10 review)
        arrs = [
            np.asarray(x, dtype=np.int64) if x is not None else np.empty(0, np.int64)
            for x in hs
        ]
        lens = np.array([len(a) for a in arrs], dtype=np.int64)
        nonzero = np.nonzero(lens)[0]
        out = [None] * n
        if len(nonzero) == 0:
            return pd.Series(out, dtype="object")
        H = np.concatenate([arrs[i] for i in nonzero])
        starts = np.zeros(len(nonzero), dtype=np.int64)
        np.cumsum(lens[nonzero][:-1], out=starts[1:])
        sigs = np.empty((len(nonzero), len(perms)), dtype=np.int64)
        for i, (a, b) in enumerate(perms):
            vals = (a * H + b) % MERSENNE_31
            sigs[:, i] = np.minimum.reduceat(vals, starts)
        for row, i in enumerate(nonzero):
            out[i] = sigs[row].tolist()
        return pd.Series(out, dtype="object")

    return sig


def minhash_signatures(
    sets: DataFrame, num_perm: int = 128, sig_form: str = "hof"
) -> DataFrame:
    """Add a `sig` array<long> column: per-permutation min of
    (a_i·base_hash + b_i) mod p over the shingle set. The base hashes are
    materialized once per row (`_hs` column) so the md5 work is not
    repeated per permutation.

    ``sig_form`` picks the physical form of the affine-min stage — sig
    values are bit-identical either way (same oracle; equality
    test-pinned with NULL-for-empty included):

    - "hof" (default — KEPT by the r10 full-query measurement): the
      per-row HOF expression. The r8 measurement that rejected an
      explode + groupBy alternative (~60% slower at both scales) also
      stands. Interpreted HOFs are not automatically the bottleneck —
      see the opposite outcome for the per-BIT string ops in
      functions/text._simhash_bit_sums, and contrast ivf.py, where the
      Arrow form DID win ×10.
    - "arrow" (r10): numpy affine mins over the Arrow-shipped
      base-hash arrays (_sig_arrow_udf), reduceat segment mins. Wins
      the scan IN ISOLATION (×0.55 at sf1, same-session A/B) and the
      COLD first build (the 128-perm expression costs ~4–5 s of
      one-time analysis the UDF avoids) — but LOSES ×1.4 at sf1 inside
      the registered minhash_lsh_pairs plan, where the signature frame
      is referenced by both the banding and the verify lookup and the
      Arrow stage's ship-out/ship-in is paid per reference while the
      HOF fuses into each consumer's stage. Crossover documented in
      SCALING.md r10; use for single-materialization builds
      (checkpointed indexes) when cold analysis matters.
    """
    if sig_form not in ("hof", "arrow"):
        raise ValueError(f"sig_form must be 'hof' or 'arrow', got {sig_form!r}")
    perms = perm_constants(num_perm)
    with_hs = sets.withColumn("_hs", F.transform(F.col("shingles"), base_hash))
    if sig_form == "arrow":
        return with_hs.withColumn(
            "sig", _sig_arrow_udf(num_perm)(F.col("_hs"))
        ).drop("_hs")
    # one JVM-side-parsed expression for all permutations — the same tree
    # built via the Column API would cost thousands of py4j round-trips
    sig_sql = "array(" + ", ".join(
        f"array_min(transform(_hs, hh -> ({a}L * hh + {b}L) % {MERSENNE_31}))"
        for a, b in perms
    ) + ")"
    sig = F.expr(sig_sql)
    return with_hs.withColumn("sig", F.when(F.size("shingles") > 0, sig)).drop("_hs")


def band_rows(signed: DataFrame, num_perm: int = 128, bands: int = 32) -> DataFrame:
    """SKINNY band rows (doc, band_idx, band_hash) from a `sig` frame.

    The shingle arrays must NOT ride through the explode/join — at corpus
    scale that shuffles O(docs × bands) multi-KB arrays; they are
    re-attached AFTER candidate-pair dedup, when only the (rare)
    colliding pairs remain (same shape as
    similarity.knn.cosine_pairs_bucketed). A pure projection of the
    stored signature — which is what lets a persisted dedup INDEX
    (dedup/incremental.py) band its historical signatures without
    touching historical text.

    Guard (r11 review fix): the sig width must equal ``num_perm`` —
    a frame signed with a different permutation count would slice past
    the array end, hash the SAME empty-slice constant for every doc in
    the tail bands, and melt banding into corpus-sized buckets. The
    JVM-side raise fails the first bad row loudly at zero cost on
    valid input.

    NULL sigs (the no-shingle docs) are DROPPED here, not passed
    through (r12, ADVICE): every NULL sig hashes to the same constant
    band_hash in all bands, so a caller that skipped the documented
    isNotNull pre-filter would silently build one corpus-sized bucket
    of no-shingle docs — quadratic candidate expansion with correct
    output (NULL jaccard filters at verify). Enforcing the contract
    in-operator makes the degradation impossible instead of
    documented; callers' existing pre-filters remain as no-ops.
    """
    rows_per_band = num_perm // bands
    sig_ok = F.when(
        F.col("sig").isNull() | (F.size("sig") == num_perm), F.col("sig")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"band_rows: sig width != num_perm={num_perm} (got "),
                F.size("sig").cast("string"),
                F.lit(") — was the signed frame built with a different num_perm?"),
            )
        )
    )
    # width guard first (a wrong-width frame should raise, not shrink),
    # then the NULL drop — the filter sits on the guarded projection so
    # both run in the same codegen stage
    signed = signed.withColumn("sig", sig_ok).filter(F.col("sig").isNotNull())
    return signed.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_band_threshold: int | None = None,
    sets: DataFrame | None = None,
    signed: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard ≥ t.

    Returns: id_a, id_b, jaccard — same contract as ngram_jaccard_pairs.

    ``sets`` (r11): a precomputed ``shingle_sets(docs, id_col, text_col,
    n)`` frame (caller's contract) — pass the same materialized frame
    here and to ``minhash_dup_groups`` to pay the shingle scan once when
    a pipeline needs both contracts. ``signed`` (r11): additionally a
    precomputed non-NULL-sig ``minhash_signatures(sets, num_perm)``
    frame, sharing the 128-perm pass too.

    ``hot_band_threshold`` (r9): band buckets larger than it route
    through pairs_within_groups' streaming self-join instead of the
    in-array pair expansion (identical candidates; see
    operators/pairs.py). The census (dedup/census.py::minhash_census)
    says where a corpus's buckets sit: the driver corpora max out at 40
    members/bucket at sf1 — far under the ~10k array-materialization
    hazard — so the registered query keeps the default None.
    """
    # materialized internally when not injected (r11): the lazy frame is
    # referenced by the signature pass AND both verify sides, so the
    # shingling fold ran ~3× — sf1 A/B 8.57 → 4.65 s median, identical
    # 250,600 pairs (SCALING.md)
    if sets is None:
        # operator_leaf (r14): durable-mode conf honored at this leaf
        sets = operator_leaf(shingle_sets(docs, id_col, text_col, n))
    if signed is None:
        signed = minhash_signatures(sets, num_perm).filter(F.col("sig").isNotNull())
    banded = band_rows(signed, num_perm, bands)

    # groupBy-bucket pair expansion, NOT a self-join: a self-join would
    # evaluate the (expensive) signature subtree once per side — this
    # shape computes signatures exactly once (operators/pairs.py)
    cands = pairs_within_groups(
        banded, ["band_idx", "band_hash"], "doc", max_group_size=hot_band_threshold
    )
    return verify_jaccard_pairs(cands, sets, sets, threshold)


def verify_jaccard_pairs(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact-Jaccard verify of candidate (a_col, b_col) pairs against two
    shingle-set frames, each with (doc, shingles, set_size) columns —
    the one formula shared by the one-shot LSH pipeline (both sides the
    same frame) and the incremental index path (new batch vs stored
    index sets, dedup/incremental.py). Raw double division of identical
    ints — bit-identical across engines (see ngram._jaccard_from_inter)."""
    sa = sets_a.select(
        F.col("doc").alias(a_col),
        F.col("shingles").alias("sh_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets_b.select(
        F.col("doc").alias(b_col),
        F.col("shingles").alias("sh_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("size_a") + F.col("size_b") - inter)
    return (
        cands.join(sa, a_col)
        .join(sb, b_col)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )


def minhash_dup_groups(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_band_threshold: int | None = None,
    collect_cap: int | None = 1_000_000,
    sets: DataFrame | None = None,
    signed: DataFrame | None = None,
    with_singletons: bool = False,
) -> DataFrame:
    """(node, component) — connected components of the minhash_lsh_pairs
    graph, the COMPONENTS-contract companion (r11, the simhash_dup_groups
    pattern): downstream dedup needs group labels, and on copy-heavy
    corpora the pairs contract is quadratic in each exact-duplicate
    clique. Only docs with at least one verified near-duplicate are
    emitted (the connected_components convention);
    ``with_singletons=True`` (r12) additionally emits (doc, doc) for
    every nonempty-set doc with no duplicate — the full dedup table.

    EXACT quotient by the distinct-shingle SET: both stages of the pair
    operator are pure functions of a doc's shingle set — the minhash
    signature is a deterministic function of the set (so band
    collisions between two docs depend only on their two sets, and
    identical sets always collide in every band), and the verify is
    exact Jaccard on the sets. Therefore:

    - docs sharing an identical NONEMPTY set form a clique
      (J = 1 ≥ threshold and they always band-collide) — connected
      with min-doc star edges;
    - one representative per distinct set runs the ordinary
      band + verify pipeline; a verified rep pair connects the two
      cliques exactly when every cross pair of the full graph is a
      verified pair (same sets ⇒ same candidate status AND same
      jaccard).

    Components of (stars ∪ rep pairs) equal components of the full
    minhash_lsh_pairs graph — including LSH's false-negative semantics,
    which also depend only on the sets (differentially test-pinned).
    Empty-set docs never pair in the pairs contract (NULL sig is
    filtered; J of empty sets is NULL) and are excluded from the
    quotient the same way.

    Cost shape (r12 form): a map-side-collapsed groupBy on the sorted
    shingle array (one row per distinct set leaves each task) plus the
    corpus-linear star join-back buy a band+verify stage whose
    input is the distinct sets only — an exact-duplicate-heavy corpus
    (the regime where every band bucket is a copy clique) collapses to
    its distinct documents before the quadratic stage.
    """
    if not 0.0 < threshold <= 1.0:
        # the intra-set cliques assume J(s, s) = 1 qualifies; a
        # threshold > 1 has no edges at all and the stars would invent
        # some — fail loudly instead
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from etl_school_spark.dedup.cluster import (
        _release_plan_blocks,
        quotient_components,
    )

    # ``sets`` (r11): a caller sharing the shingle scan with
    # minhash_lsh_pairs passes its own materialized frame; a leaf we
    # create ourselves is ours to release once labels is self-contained
    owned_sets = None
    if sets is None:
        # operator_leaf (r14, VERDICT item 2): durable-mode sessions get
        # a reliable checkpoint here too, not just in the quotient loop
        sets = operator_leaf(shingle_sets(docs, id_col, text_col, n))
        owned_sets = sets
    sets = sets.filter(F.col("set_size") > 0)
    # groupBy + join-back rep selection, not a set-key Window (r12,
    # VERDICT item 1): a Window partition cannot split, so a hot
    # duplicate clique — the regime the quotient targets — would funnel
    # its full membership (wide shingle rows) through one task. The
    # groupBy collapses each clique map-side, the join-back's build
    # side is one row per key (AQE-skew-splittable), and the sorted-set
    # groupBy key doubles as the rep's shingle array (signatures and
    # the Jaccard verify are order-insensitive set functions, so sorted
    # order is output-exact). Full rationale: ngram.ngram_dup_groups.
    keyed = sets.select("doc", F.array_sort("shingles").alias("_setkey"))
    # checkpointed so the star join-back is AQE-skew-splittable (the
    # rule cannot see through an agg-fused build side) and the band +
    # verify stages reuse the materialized quotient — measured rationale
    # in ngram.ngram_dup_groups / tools/ab_megaclique.py (r12)
    # _csize (r13): per-clique count, so quotient_components' star count
    # is one tiny aggregate over this leaf (ngram rationale)
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
    if signed is None:
        rep_signed = minhash_signatures(rep_sets, num_perm).filter(
            F.col("sig").isNotNull()
        )
    else:
        # reuse the caller's full-corpus signature frame (signatures are
        # a pure function of the set, so the rep rows are a subset) —
        # a skinny semi-join instead of re-running the 128-perm pass
        rep_signed = signed.join(rep_sets.select("doc"), "doc", "leftsemi")
    banded = band_rows(rep_signed, num_perm, bands)
    cands = pairs_within_groups(
        banded, ["band_idx", "band_hash"], "doc", max_group_size=hot_band_threshold
    )
    rep_pairs = verify_jaccard_pairs(cands, rep_sets, rep_sets, threshold).select(
        "id_a", "id_b"
    )
    # components over the REP graph only; star members inherit their
    # rep's label in one skew-splittable join (r12 — the loop no longer
    # scales with the duplication factor; cluster.quotient_components)
    labels = quotient_components(rep_pairs, stars, reps, collect_cap=collect_cap)
    if with_singletons:
        # (r12) full dedup table: (doc, doc) for every nonempty-set doc
        # with no verified near-duplicate
        from etl_school_spark.dedup.cluster import add_singletons

        labels = add_singletons(labels, keyed, "doc")
    elif owned_sets is not None:
        # labels is a self-contained leaf (r13) — release the shingle
        # leaf we created instead of leaking it per call
        # (with_singletons keeps it: the universe reads keyed → sets)
        _release_plan_blocks(owned_sets)
    # the reps leaf is fully consumed once labels materializes
    _release_plan_blocks(reps)
    return labels
