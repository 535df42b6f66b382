"""SimHash near-dup detection: 64-bit signature + band blocking.

SimHash packs a document's token set into 64 bits such that hamming
distance approximates (1 - cosine) of the token vectors. Blocking uses
the pigeonhole principle: with the signature split into ``chunks`` equal
chunks, any pair within hamming distance ``max_hamming`` < chunks must
agree exactly on at least one chunk — so bucketing on (chunk_idx,
chunk_value) finds ALL such pairs (no false negatives), and an exact
hamming verify removes false positives.

r3 rewrite, same output: the signature is ONE BIGINT word
(functions.text.simhash64_packed), chunk keys are masked words, pairs
are emitted exactly once at their FIRST agreeing chunk (an XOR+AND
word filter — no dropDuplicates shuffle), and the hamming verify is
``bit_count(a XOR b)``. The previous formulation shuffled two
64-element signature arrays per candidate row into a pair-dedup
exchange; on the sf1 tiled corpus (dense chunk blocks: every doc has 9
byte-identical copies) that allocation pattern killed the local
session with GC thrash. The word form carries 16 bytes per side.

One shuffle on chunk buckets; signatures are one linear expression-only
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_school_spark.dedup.cluster import operator_leaf
from etl_school_spark.functions.text import _signed64, simhash64_packed

#: refine_threshold="auto": chunk buckets past HOT_THRESHOLD members are
#: the hot ones; a sampled verify pass-rate below REFINE_PASS_CUTOFF
#: means they are boilerplate and refinement pays; the sample holds
#: ≤ ~4 × PROBE_ROWS hot-bucket rows (_hot_bucket_pass_rate).
HOT_THRESHOLD = 2000
REFINE_PASS_CUTOFF = 0.2
PROBE_ROWS = 256


def _chunk_masks(chunks: int) -> list[int]:
    chunk_size = 64 // chunks
    return [
        _signed64(((1 << chunk_size) - 1) << (c * chunk_size)) for c in range(chunks)
    ]


def _sub_masks(chunks: int, subs: int) -> list[list[int]]:
    """Per chunk t: the 64 − 64/chunks COMPLEMENT bits (everything the
    bucket does not already agree on) split into ``subs`` near-equal
    groups — the recursive-pigeonhole refinement keys. A pair in bucket
    t with hamming ≤ subs − 1 has ALL its differing bits in the
    complement, so it agrees exactly on at least one group."""
    chunk_size = 64 // chunks
    out = []
    for t in range(chunks):
        comp = [
            b for b in range(64) if not (t * chunk_size <= b < (t + 1) * chunk_size)
        ]
        base, rem = divmod(len(comp), subs)
        groups, idx = [], 0
        for c in range(subs):
            size = base + (1 if c < rem else 0)
            groups.append(_signed64(sum(1 << b for b in comp[idx : idx + size])))
            idx += size
        out.append(groups)
    return out


def simhash_signature_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, _sig) — the signature scan both contracts start from
    (r11): compute it once, ``localCheckpoint``, and pass it to
    ``simhash_near_pairs(sigs=...)`` AND ``simhash_dup_groups(sigs=...)``
    when a pipeline needs pairs and group labels over one corpus — the
    fold-heavy scan is the shared cost, everything after diverges."""
    from etl_school_spark.tables import fan_out

    # signature scan is fold-heavy pre-shuffle work — parallelize a
    # narrow scan up front (no-op when already parallel)
    return fan_out(docs).select(
        F.col(id_col).alias("doc"), simhash64_packed(text_col).alias("_sig")
    )


def simhash_chunk_rows(
    docs: DataFrame,
    chunks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc, _sig, t, key) chunk-bucket membership rows — the blocking
    frame of ``simhash_near_pairs``, exposed so the skew census
    (dedup/census.py) measures exactly the bucket distribution the
    candidate self-join will see. ``sigs``: a precomputed
    ``simhash_signature_rows`` frame (must derive from the same
    (docs, id_col, text_col) — the caller's contract)."""
    if sigs is None:
        sigs = simhash_signature_rows(docs, id_col, text_col)
    return _explode_chunks(sigs, chunks)


def _explode_chunks(signed: DataFrame, chunks: int) -> DataFrame:
    """Chunk-bucket membership rows (doc, _sig, t, key) from a
    pre-signed (doc, _sig) frame — shared by simhash_chunk_rows and the
    distinct-signature representative path of simhash_dup_groups."""
    buckets = F.array(
        *[
            F.struct(F.lit(c).alias("t"), F.expr(f"_sig & {m}L").alias("key"))
            for c, m in enumerate(_chunk_masks(chunks))
        ]
    )
    return signed.select("doc", "_sig", F.explode(buckets).alias("b")).select(
        "doc", "_sig", "b.t", "b.key"
    )


def _hot_bucket_pass_rate(
    ids: DataFrame,
    hot_threshold: int,
    max_hamming: int,
) -> float | None:
    """MEASURE the refinement enable signal (r10): the fraction of
    hot-bucket candidate pairs that would PASS the hamming verify.

    The r9 crossover measurement (SCALING.md) showed refinement wins
    exactly when hot buckets are boilerplate (pairs mostly FAIL the
    verify — sub-chunk re-blocking prunes them) and loses when they are
    true duplicate clusters (pairs pass; the explode is pure overhead).
    This probe samples hot-bucket members with a deterministic hash gate
    (the knn.lsh_candidate_density pattern — no RNG, same sample every
    run), collects ≤ ~4×PROBE_ROWS skinny (bucket, signature) rows, and
    computes the pairwise pass-rate driver-side (≤ PROBE_ROWS² word ops).
    Returns None when no bucket exceeds ``hot_threshold`` (nothing to
    refine) or the gated sample yields no within-bucket pair."""
    sizes = ids.groupBy("t", "key").agg(F.count(F.lit(1)).alias("_bsz"))
    hot = sizes.filter(F.col("_bsz") > hot_threshold)
    total = hot.agg(F.sum("_bsz")).first()[0]
    if total is None:
        return None
    rate = min(1.0, PROBE_ROWS / float(total))
    # clamp the gate ≥ 1: at extreme hot-bucket mass (total >
    # PROBE_ROWS × 1e6 — the massive-boilerplate regime the dispatch
    # exists for) an unclamped int(rate × 1e6) truncates to 0 and the
    # sample goes empty, silently disabling refinement where it matters
    # most (r10 review). The limit below keeps the sample bounded even
    # when the clamped gate over-admits.
    gate = (F.abs(F.hash("doc")) % 1_000_000) < F.lit(
        max(1, int(rate * 1_000_000))
    )
    # Deterministic cap (r11): an unordered .limit() is partition-order
    # dependent, so the memoized dispatch decision could flip between
    # sessions. Ordering by the hash residue (the gate value) before the
    # limit makes the sample a pure function of the data — and spreads
    # the cap across hot buckets proportionally instead of letting
    # whichever bucket a task scanned first crowd out the rest
    # (TakeOrderedAndProject: top-K per partition, no full sort).
    sample = (
        ids.join(hot.select("t", "key"), ["t", "key"])
        .filter(gate)
        .select(
            "t",
            "key",
            "_sig",
            (F.abs(F.hash("doc")) % 1_000_000).alias("_r"),
            "doc",
        )
        .orderBy("_r", "doc", "t", "key")
        .limit(4 * PROBE_ROWS)
        .collect()
    )
    groups: dict = {}
    for r in sample:
        groups.setdefault((r.t, r.key), []).append(r._sig)
    mask = (1 << 64) - 1
    tot = hits = 0
    for sigs in groups.values():
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                tot += 1
                if ((sigs[i] ^ sigs[j]) & mask).bit_count() <= max_hamming:
                    hits += 1
    if tot == 0:
        return None
    return hits / tot


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    refine_threshold: int | str | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """All pairs (i < j) with SimHash hamming distance ≤ max_hamming.

    ``sigs`` (r11): a precomputed ``simhash_signature_rows`` frame to
    share the signature scan with ``simhash_dup_groups`` — must derive
    from the same (docs, id_col, text_col).

    Exact under the pigeonhole guarantee (requires max_hamming < chunks).
    Returns: id_a, id_b, hamming_dist (long).

    Precondition: ``id_col`` values are unique (the standard contract for
    a corpus keyed by doc id — the same assumption exact.py's
    fingerprint groupBy makes). Duplicate ids would emit one pair row
    per in-bucket row combination: the first-collision filter is
    exactly-once per ROW pair, and the dedup-shuffle-free design
    deliberately has no pair-level dropDuplicates to collapse id-level
    duplicates.

    ``refine_threshold`` (r9): RECURSIVE PIGEONHOLE refinement for hot
    chunk buckets — template/boilerplate corpora concentrate ~whole
    percents of the corpus into single chunk buckets (census.py: one
    sf1 bucket holds 16,390 members → 134 M of the stage's 242 M
    candidate pairs), and almost all of those candidates fail the
    hamming verify. With a threshold set, buckets larger than it are
    re-blocked on ``max_hamming + 1`` near-equal sub-chunks of their 48
    COMPLEMENT bits: a pair in bucket t with hamming ≤ max_hamming has
    all its differing bits in the complement, so it agrees exactly on
    ≥ 1 sub-chunk — no qualifying pair is lost, while dissimilar pairs
    that merely share the 16-bit chunk now also need a 12-bit sub-chunk
    match to surface. OUTPUT-EXACT for any threshold: qualifying pairs
    route by their FIRST agreeing chunk — hot → found via sub-join
    (pigeonhole) and emitted at their first agreeing sub-chunk, small →
    the plain join (whose first-collision filter rejects pairs owned by
    a hot bucket) — so each is emitted exactly once, and the only
    candidates refinement can drop are pairs the hamming filter would
    reject anyway (differentially tested; measured crossover in
    SCALING.md). Cost: one extra groupBy-count + size join on the
    skinny bucket rows. None (default) keeps the single-join plan.

    ``refine_threshold="auto"`` (r10): the census-driven dispatch the
    r9 SCALING entry left manual. One bucket-size census finds buckets
    past HOT_THRESHOLD; if any exist, a deterministic bounded
    sample of their members measures the verify PASS-RATE
    (_hot_bucket_pass_rate). Pass-rate < REFINE_PASS_CUTOFF means
    the hot mass is boilerplate (the regime where refinement measured
    ×0.80 at sf0.1) → refine at HOT_THRESHOLD; otherwise
    (true-duplicate hot buckets — the regime where it measured ×2.4
    WORSE at sf1) or no hot buckets at all → the plain single-join
    plan. The probe is memoized per (input plan, params) in the one
    probe memo (tables.memoized_probe), so repeated runs pay it once.
    Either choice is output-exact (the refinement exactness argument
    above), so the dispatch changes the PLAN, never the answer — same
    oracle either way.
    """
    if max_hamming >= chunks:
        raise ValueError("pigeonhole blocking needs max_hamming < chunks")
    # r11: materialize the signature scan (the simhash_dup_groups
    # pattern) — the blocked self-join otherwise re-derives the md5
    # fold on BOTH sides of every exploded chunk row: sf1 A/B
    # 14.16 → 3.97 s median, identical 16.85M pairs (SCALING.md)
    if sigs is None:
        # operator_leaf (r14): durable-mode conf honored at this leaf
        sigs = operator_leaf(simhash_signature_rows(docs, id_col, text_col))
    ids = simhash_chunk_rows(docs, chunks, id_col, text_col, sigs=sigs)
    if refine_threshold == "auto":
        refine_threshold = _resolve_refine_auto(
            docs, ids, max_hamming, chunks, id_col, text_col, "pairs"
        )
    return _verified_pairs(ids, max_hamming, chunks, refine_threshold)


def _resolve_refine_auto(
    plan_key_df: DataFrame,
    ids: DataFrame,
    max_hamming: int,
    chunks: int,
    id_col: str,
    text_col: str,
    variant: str,
) -> int | None:
    """The census-driven refinement dispatch (r10), shared by
    simhash_near_pairs and simhash_dup_groups: measure the hot-bucket
    verify pass-rate on a deterministic bounded sample, memoized per
    (input plan, params, variant) in tables.memoized_probe.
    ``plan_key_df`` must be a STABLE plan across warm calls (the
    caller's docs frame — NOT a per-call localCheckpoint derivative,
    whose LogicalRDD hash changes every call and would defeat the
    memo); ``variant`` ("pairs" or "groups") discriminates the two
    bucket distributions (full chunk rows vs quotient reps) so they
    never reuse each other's probe.

    CONTRACT at the ``sigs=`` injection sites (r12, ADVICE): an
    injected signature frame MUST derive from the same
    (docs, id_col, text_col) the memo is keyed on — the probed bucket
    distribution comes from the injected frame, so a caller violating
    the documented derivation contract would mis-key the memo entry.
    Both refinement choices are output-exact (a bad or stale entry can
    only mis-price, never corrupt or fail — so, unlike the dense cap in
    dispatch.cosine_pairs_auto, no eviction path is needed), and the
    standard injection (a per-call localCheckpoint of the same scan,
    dedupops.py) cannot carry a stable hash of its own — so the
    contract is asserted here rather than mixed into the key."""
    from etl_school_spark.tables import memoized_probe

    rate = memoized_probe(
        plan_key_df,
        f"simhash_refine_{variant}",
        (max_hamming, chunks, id_col, text_col, HOT_THRESHOLD, PROBE_ROWS),
        lambda: _hot_bucket_pass_rate(ids, HOT_THRESHOLD, max_hamming),
    )
    return HOT_THRESHOLD if rate is not None and rate < REFINE_PASS_CUTOFF else None


def _verified_pairs(
    ids: DataFrame,
    max_hamming: int,
    chunks: int,
    refine_threshold: int | None,
) -> DataFrame:
    """The pair-join core of simhash_near_pairs over pre-built chunk
    rows (doc, _sig, t, key): first-collision candidate join (plain or
    hot-bucket-refined) + exact hamming verify. Split out in r11 so
    simhash_dup_groups can run the identical machinery over the
    collapsed distinct-signature representatives."""
    masks = _chunk_masks(chunks)
    # exactly-once emission WITHOUT a dedup shuffle (the knn.py
    # first-collision pattern): a pair is kept only at the first chunk
    # on which the two signatures agree — pure word ops per pair row
    case_chain = (
        "CASE "
        + " ".join(f"WHEN ((sa ^ sb) & {m}L) = 0L THEN {c}" for c, m in enumerate(masks))
        + " ELSE -1 END"
    )
    first_chunk = F.expr(f"({case_chain}) = t")

    def joined_pairs(rows: DataFrame, keys: list[str]) -> DataFrame:
        return (
            rows.alias("a")
            .join(rows.alias("b"), keys)
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.col("a._sig").alias("sa"),
                F.col("b._sig").alias("sb"),
                *[F.col(k) for k in keys if k in ("t", "sub_t")],
            )
        )

    # Pair generation stays a self-JOIN (rows stream through codegen
    # filters), NOT the operators/pairs.py groupBy-array expansion: at
    # sf1 the tiled corpus has simhash chunk buckets of up to 16,390
    # members (near-identical template docs agree on whole chunks), and
    # a collect_list expansion would materialize ~134M pair structs in
    # ONE row (r8, measured: the array shape never finished at sf1,
    # while the join streams the same ~half-billion candidates fine).
    # The join computes the signature scan on both sides — Spark
    # broadcasts the build side and ReuseExchange does not apply across
    # a broadcast boundary (r8: a shuffle_hash hint did not recover
    # reuse under AQE either) — so the scan itself was made cheap
    # instead: see _simhash_bit_sums (conv halves + long shift/mask).
    if refine_threshold is None:
        cand = joined_pairs(ids, ["t", "key"]).filter(first_chunk)
    else:
        sizes = ids.groupBy("t", "key").agg(F.count(F.lit(1)).alias("_bsz"))
        tagged = ids.join(sizes, ["t", "key"])
        small = tagged.filter(F.col("_bsz") <= refine_threshold).drop("_bsz")
        hot = tagged.filter(F.col("_bsz") > refine_threshold).drop("_bsz")
        # a pair is OWNED by its first agreeing chunk; the small join's
        # first-collision filter rejects hot-owned pairs even when they
        # also share a small bucket, so the two paths are disjoint
        small_cand = joined_pairs(small, ["t", "key"]).filter(first_chunk)

        subs = max_hamming + 1
        sm = _sub_masks(chunks, subs)
        sub_key = lambda c: (  # noqa: E731 — per-t mask dispatch
            "CASE t "
            + " ".join(f"WHEN {t} THEN _sig & {sm[t][c]}L" for t in range(chunks))
            + " END"
        )
        sub_buckets = F.array(
            *[
                F.struct(
                    F.lit(c).alias("sub_t"), F.expr(sub_key(c)).alias("sub_key")
                )
                for c in range(subs)
            ]
        )
        hot_sub = hot.select(
            "doc", "_sig", "t", "key", F.explode(sub_buckets).alias("s")
        ).select("doc", "_sig", "t", "key", "s.sub_t", "s.sub_key")
        # second-level first-collision: within the owning chunk bucket,
        # emit at the first agreeing SUB-chunk — same exactly-once word
        # trick one level down
        sub_case = (
            "CASE t "
            + " ".join(
                f"WHEN {t} THEN (CASE "
                + " ".join(
                    f"WHEN ((sa ^ sb) & {sm[t][c]}L) = 0L THEN {c}"
                    for c in range(subs)
                )
                + " ELSE -1 END)"
                for t in range(chunks)
            )
            + " END"
        )
        hot_cand = (
            joined_pairs(hot_sub, ["t", "key", "sub_t", "sub_key"])
            .filter(first_chunk)
            .filter(F.expr(f"({sub_case}) = sub_t"))
            .drop("sub_t")
        )
        cand = small_cand.unionByName(hot_cand)
    return (
        cand.withColumn("hamming_dist", F.bit_count(F.expr("sa ^ sb")).cast("long"))
        .filter(F.col("hamming_dist") <= max_hamming)
        .select("id_a", "id_b", "hamming_dist")
    )


def simhash_dup_groups(
    docs: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    refine_threshold: int | str | None = "auto",
    collect_cap: int | None = 1_000_000,
    sigs: DataFrame | None = None,
    with_singletons: bool = False,
) -> DataFrame:
    """(doc, component) — connected components of the simhash near-dup
    graph, the COMPONENTS-contract companion to simhash_near_pairs
    (r11, VERDICT item 4): downstream dedup needs group labels, and the
    pairs contract is inherently quadratic on true-duplicate hot
    buckets (sf1: one 16,390-member bucket alone → ~134M real pairs).
    Only docs with at least one near-duplicate are emitted (the
    connected_components convention); ``with_singletons=True`` (r12)
    additionally emits (doc, doc) for every signed doc with no
    duplicate — the full dedup table.

    EXACT component collapse via the signature quotient: hamming
    distance depends only on the 64-bit signatures, so docs sharing an
    IDENTICAL signature form a clique (distance 0 ≤ max_hamming), and
    whether an edge exists between two docs is a property of their
    (distinct) signature values alone. The graph is therefore
    quotiented by signature equality:

    - intra-signature STAR edges (min-doc representative → member)
      connect each exact-signature clique — n−1 edges instead of
      n(n−1)/2;
    - ONE representative per distinct signature enters the standard
      first-collision blocked pair join (+ the shared census-driven
      refinement dispatch); a qualifying rep pair (s1, s2) connects
      the two cliques exactly when every cross pair of the full graph
      does.

    Components of (stars ∪ rep pairs) equal components of the full
    simhash_near_pairs graph: any full edge (x, y) with sig(x)=sig(y)
    routes both ends to the shared rep; with sig(x)≠sig(y) the rep
    edge exists and x—rep(sx)—rep(sy)—y is a path. Conversely every
    constructed edge is a true near-dup edge. (A star-verify
    triangle-bound pre-pass — hamming ≤ ⌊max_hamming/2⌋ against each
    bucket's min member — was considered and DROPPED: it only finds
    pairs routed through the center, so two members within
    max_hamming of each other but farther than ⌊max_hamming/2⌋ from
    the center would lose their edge — not provably exact.)

    Cost shape: the signature scan + one groupBy(sig) linear pass; the
    quadratic bucket join runs over DISTINCT signatures only — a
    true-duplicate hot bucket collapses to its handful of distinct
    sigs. Boilerplate hot buckets (many distinct sigs agreeing on one
    chunk) still hit the refinement dispatch, unchanged. Measured at
    sf1 in SCALING.md (r11).
    """
    from etl_school_spark.dedup.cluster import (
        _release_plan_blocks,
        quotient_components,
    )

    if max_hamming >= chunks:
        raise ValueError("pigeonhole blocking needs max_hamming < chunks")
    # the signature scan feeds the rep groupBy AND the star join — one
    # truncated materialization, not two fold-heavy scans. ``sigs``
    # (r11): a caller sharing the scan with simhash_near_pairs passes
    # its own (already-materialized) simhash_signature_rows frame —
    # which MUST derive from the same (docs, id_col, text_col): the
    # refinement memo is keyed on the docs plan (_resolve_refine_auto
    # contract note, r12 ADVICE).
    owned_sigs = None
    if sigs is None:
        # operator_leaf (r14, VERDICT item 2): durable-mode sessions get
        # a reliable checkpoint here too, not just in the quotient loop
        sigs = operator_leaf(simhash_signature_rows(docs, id_col, text_col))
        owned_sigs = sigs
    # NULL signatures (null text) are out of the pair contract — they
    # never match the star join or a chunk bucket — so exclude them from
    # the rep groupBy up front (r13): the null-sig rep row contributed
    # nothing downstream, and the exclusion makes the dispatch identity
    # |stars| = |non-null sigs| − |reps| exact.
    sigs_nn = sigs.filter(F.col("_sig").isNotNull())
    # checkpointed so the star join-back is AQE-skew-splittable (r12,
    # VERDICT item 4): OptimizeSkewedJoin cannot see through an
    # agg-fused build side, so a hot signature clique would ride one
    # task; behind the checkpoint the build is its own exchange and the
    # skewed probe partition splits (measured in tools/ab_megaclique.py
    # for the set-key twin of this join). Also reused by the chunk
    # explode below.
    # _csize (r13): per-clique count, so quotient_components' star count
    # is one tiny aggregate over this leaf, not a corpus-scale count of
    # sigs — pruned out of the star join and the chunk explode by their
    # explicit selects (ngram rationale)
    reps = operator_leaf(
        sigs_nn.groupBy("_sig")
        .agg(F.min("doc").alias("doc"), F.count(F.lit(1)).alias("_csize"))
    )
    stars = (
        sigs.join(reps.withColumnRenamed("doc", "_rep"), "_sig")
        .filter(F.col("doc") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc").alias("id_b"))
    )
    rep_ids = _explode_chunks(reps, chunks)
    if refine_threshold == "auto":
        # memo key = the caller's stable docs plan + variant="groups"
        # (r11 review fix: keying on `reps` — a derivative of the
        # per-call localCheckpoint — changed hash every call, so the
        # probe re-ran on every warm invocation)
        refine_threshold = _resolve_refine_auto(
            docs, rep_ids, max_hamming, chunks, id_col, text_col, "groups"
        )
    rep_pairs = _verified_pairs(rep_ids, max_hamming, chunks, refine_threshold)
    # components over the REP graph only; star members inherit their
    # rep's label in one skew-splittable join (r12 — the loop no longer
    # scales with the duplication factor; cluster.quotient_components,
    # which also counts the stars from the reps leaf's _csize)
    labels = quotient_components(
        rep_pairs.select("id_a", "id_b"), stars, reps, collect_cap=collect_cap
    )
    if with_singletons:
        # (r12) full dedup table: (doc, doc) for every doc with no
        # near-duplicate. The universe is deliberately the FULL sigs
        # frame (r14, ADVICE): null-text docs are out of the PAIR
        # contract (they match no bucket or star join), but a full
        # dedup table must still cover every document of the corpus —
        # each null-text doc emerges as its own singleton group, the
        # same per-doc survival rule the incremental pipeline applies
        # to null fingerprints (incremental.py null_fp). ngram/minhash
        # differ: their empty-SET docs are dropped from the universe
        # because set_size=0 means "no shingles at this n", a unit the
        # operator measures, not a doc the corpus lacks.
        from etl_school_spark.dedup.cluster import add_singletons

        labels = add_singletons(labels, sigs, "doc")
    elif owned_sigs is not None:
        # labels is a self-contained leaf (r13) — release the signature
        # leaf we created instead of leaking it per call
        # (with_singletons keeps it: the universe is sigs itself)
        _release_plan_blocks(owned_sigs)
    # the reps leaf is fully consumed once labels materializes
    _release_plan_blocks(reps)
    return labels
