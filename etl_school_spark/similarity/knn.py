"""Similarity search over embedding columns (array<float>).

Two strategies with the same output contract (query_id, neighbor_id,
score, rank):

- brute_force_topk: broadcast the (small) query set against the corpus,
  exact cosine per (query, corpus) pair, per-query top-k via window.
  Exact baseline; cost O(|Q|·|corpus|) but fully distributed and
  shuffle-free until the final (tiny) top-k aggregation.

- lsh_topk: random-hyperplane LSH — corpus and queries are bucketed by
  sign-bit codes under ``tables`` independent projections; candidates are
  corpus vectors sharing a bucket with the query in ANY table; exact
  cosine + top-k on candidates only. Probabilistic recall, tunable with
  tables/bits; this is the 100 TB path (shuffle is O(corpus · tables)
  small rows, and each query only scores its buckets).

Hyperplanes are generated from a fixed seed, so results are reproducible.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.functions.vectors import as_double, cosine, dot, l2_norm


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: all pairs (i < j) with cosine ≥ threshold.

    Brute-force exact (the oracle-checkable baseline). The LSH variant with
    the same contract is ``lsh_topk``-style bucketing; at corpus scale use
    that plus this verify step.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos").alias("cosine_sim"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-match excluded).

    Output: query_id, neighbor_id, score (raw double — bit-stable), rank 1..k.
    Ties cannot occur in practice (continuous scores); rank order uses
    (score desc, neighbor_id) for full determinism anyway. Norms are
    precomputed once per vector; the per-pair score dot/(nq·nc) is
    value-identical to ``cosine`` (same fold order), so oracles need no
    special casing.
    """
    from etl_school_spark.tables import fan_out

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(as_double(F.col(vec_col))).alias("_nq"),
    )
    # the corpus-side fold work dominates; parallelize a narrow scan
    corpus = fan_out(corpus)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(as_double(F.col(vec_col))).alias("_nc"),
    )
    score = dot(as_double(F.col("qv")), as_double(F.col("cv"))) / (
        F.col("_nq") * F.col("_nc")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score_raw", score)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_raw"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("score_raw").alias("score"), "rank")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 7) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
        for _ in range(tables)
    ]


def _signed64(mask: int) -> int:
    """Two's-complement signed value of an unsigned 64-bit mask (bit 63
    flips the sign in a Spark BIGINT literal)."""
    return mask - (1 << 64) if mask >= (1 << 63) else mask


def pool_code(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit code of a vector under ``planes``, packed into ONE BIGINT
    (plane i → bit i, two's-complement for bit 63).

    Representation choices, all measured at 64 planes × 64 dims:
    - a machine word instead of a code STRING: bucket keys become
      (table, shifted-masked word) int pairs, and subset-collision checks
      become one XOR+AND — what makes first-collision pair emission
      (lsh_candidate_pairs) nearly free per join row;
    - each plane is a COMPACT array literal (F.lit of a 1-D numpy array =
      one Catalyst Literal leaf), so the whole expression is ~70 nodes.
      The same constants written into a parsed SQL string become ~4 000
      CreateArray/Literal nodes that the analyzer and optimizer re-walk on
      every plan use (~1 s per occurrence per iteration); the same tree
      built from per-element F.lit calls costs ~8 s of py4j round-trips;
    - per-plane dots are zip_with/aggregate HOF folds, NOT unrolled
      element_at chains — Spark 4 evaluates array HOFs ~2.6× faster than
      a deep unrolled Add tree (micro-benched on 2 M rows).
    The fold order is identical to ``vectors.dot``, so sign decisions are
    bit-identical to the generic formulation (and to oracle SQL replaying
    the same plane constants via DuckDB's list_sum).
    """
    import numpy as np

    v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
    P = F.array(*[F.lit(np.array(p, dtype=np.float64)) for p in planes])
    W = F.array(
        *[F.lit(_signed64(1 << i)).cast("long") for i in range(len(planes))]
    )

    def plane_dot(p: Column) -> Column:
        return F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )

    terms = F.zip_with(
        P, W, lambda p, w: F.when(plane_dot(p) >= 0, w).otherwise(F.lit(0).cast("long"))
    )
    # bits are disjoint powers of two (bit 63 carried by the one negative
    # weight), so the sum is exact two's-complement assembly — no overflow
    return F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)


def _auto_bits(n: int, tables: int, target_bucket: int) -> int:
    """Bucket-width derivation for ``lsh_topk(bits="auto")``: the
    smallest bits such that expected bucket membership n / 2^bits stays
    ≤ target_bucket (clamped to [1, 64 // tables] — the pool packs
    tables × bits sign bits into one 64-bit word). Keeps per-bucket
    work CONSTANT-sized as the corpus grows: the complementary bound to
    CORPUS_BLOCK tiling (which caps allocations; this caps the Arrow
    group itself). More bits lowers per-table recall — compensate with
    tables, which the cap ties into the same 64-bit budget."""
    import math

    want = math.ceil(math.log2(max(2.0, n / max(1, target_bucket))))
    return max(1, min(64 // tables, want))


#: lsh_topk: corpus rows per BLAS tile of a bucket's scorer, and the
#: bucket membership bits="auto" targets
CORPUS_BLOCK = 4096


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    bits: int | str = 8,
    tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    query_filter: F.Column | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    Same output contract as brute_force_topk; recall depends on
    bits/tables (more tables → higher recall, more candidates).

    ``queries`` may be any frame with (id_col, vec_col); when the query
    set is a SUBSET of the corpus, pass ``query_filter`` (a boolean
    Column) instead — the query side is then derived by filtering the
    corpus code frame, so the (large, literal-heavy) hyperplane
    expression is built and analyzed once, not once per side (measured
    ~3.5 s of driver time per extra build at 64 planes).

    All ``tables × bits`` sign bits are packed into ONE BIGINT pool code
    (plane (t, b) → bit t·bits+b); table t's bucket key is
    ``shiftright(pool, t·bits) & (2^bits − 1)``, which equals the r2
    per-table string code comparison bit for bit — same candidate set,
    word-op join keys instead of strings.

    Scoring is a per-bucket cogroup gemm (r8 — the ivf.py physical
    form, adopted by sf1 measurement): with near-uniform vectors the
    bucket collision set is ~64% of the pair space (10.3M candidates
    for 800 queries x 20k corpus at sf1), so both per-candidate shapes
    lose — the HOF dot fold evaluates interpreted (~4 s of a 6.3 s
    query) and an Arrow scorer over candidate PAIRS ships every vector
    once per candidate (~10 GB; benched slower still). Cogrouping the
    bucket MEMBERS instead ships each vector once per (table, bucket)
    membership — tables x the corpus, never candidates x — and each
    bucket runs one BLAS gemm to SHORTLIST (local top-(k+1) per query
    with gemm._SELECT_MARGIN), then emits the exact score: products
    folded strict left-to-right (gemm._seq_fold_sum), JVM-computed
    norms riding in — bit-identical doubles, same DuckDB oracle. A
    global top-k member is within local top-k of every bucket it
    shares with the query (at most k-1 candidates beat it anywhere),
    so the shortlist union provably contains the global top-k,
    boundary ties included (the margin cut is inclusive). Pairs
    colliding in several tables emit identical rows, collapsed by a
    pair dropDuplicates over the (small) shortlist union before the
    global window merge.

    Per-bucket memory is BOUNDED (r9): a bucket holds O(corpus / 2^bits)
    members — at the registered bits=4 that is ~1/16 of the corpus in
    ONE pandas group, so an unblocked gemm would allocate an
    O(|Qb| × |bucket|) score matrix plus float64 copies of every member
    per task: fine at 20k docs, an OOM/straggler at 100×. The scorer
    therefore iterates the corpus side of each bucket in fixed-size
    CORPUS_BLOCK slices (the gemm.cosine_pairs_dense multi-block
    pattern): each block is shortlisted locally — per-query top-(k+1)
    within the block, inclusive _SELECT_MARGIN cut — and rescored
    exactly, so peak numpy allocation is O(|Qb| × CORPUS_BLOCK) instead
    of O(|Qb| × |bucket|). The per-block shortlist union is a SUPERSET
    of the bucket-wide shortlist (at most k-1 candidates anywhere beat a
    true top-k member, so it survives the local cut of every block that
    contains it — the same argument that makes the bucket shortlist
    cover the global top-k); extra rows are exact-scored and fall out of
    the final rank ≤ k window, so the output is row-identical for every
    block size (pinned by the planted hot-bucket test). Residual
    per-task footprint is the Arrow-deserialized group frame itself
    (inherent to cogroup applyInPandas — vectors as object cells, no
    float64/score-matrix copies); past THAT bound, scale ``bits`` with
    log2(corpus) so bucket membership stays constant-sized —
    ``bits="auto"`` does exactly that (one corpus count, then
    _auto_bits targets CORPUS_BLOCK members per bucket, capped at
    64 // tables by the pool-word budget)."""
    from etl_school_spark.tables import fan_out

    corpus = fan_out(corpus)  # hyperplane-code scan is pre-shuffle fold work
    if bits == "auto":
        bits = _auto_bits(corpus.count(), tables, CORPUS_BLOCK)
    planes = _hyperplanes(dim, bits, tables, seed)
    flat = [p for t in range(tables) for p in planes[t]]
    mask = (1 << bits) - 1

    vd = as_double(F.col(vec_col))
    # r15 (guide §2.3 — narrower types through the exchange): the cogroup
    # shuffle ships every vector once per (table, bucket) membership, i.e.
    # ``tables`` copies of the corpus. The RAW float32 parquet column
    # crosses at half the bytes of the pre-widened double form it
    # replaced; the pandas scorer widens to float64 before any
    # arithmetic (np IEEE widening is exact, so the BLAS shortlist AND
    # the exact sequential-fold rescore see bit-identical doubles — the
    # oracle is unchanged). The norm stays a JVM-computed double of the
    # widened vector, riding the shuffle as one column.
    coded = corpus.withColumn("_pool", pool_code(vec_col, flat)).withColumn(
        "_n", l2_norm(vd)
    )
    table_keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.expr(f"shiftright(_pool, {bits * t}) & {mask}L").alias("key"),
            )
            for t in range(tables)
        ]
    )

    def exploded(
        df: DataFrame, id_alias: str, v_alias: str, n_alias: str
    ) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(v_alias),
            F.col("_n").alias(n_alias),
            F.explode(table_keys).alias("b"),
        ).select(id_alias, v_alias, n_alias, "b.t", "b.key")

    if query_filter is not None:
        q_coded = coded.filter(query_filter)
    else:
        q_coded = queries.withColumn("_pool", pool_code(vec_col, flat)).withColumn(
            "_n", l2_norm(vd)
        )

    qb = exploded(q_coded, "query_id", "qv", "_nq")
    cb = exploded(coded, "neighbor_id", "cv", "_nc")

    local_k = k + 1  # self-match survives to the SQL-side filter
    block = CORPUS_BLOCK

    def _bucket_score(qdf, cdf):
        # block-tile the corpus side: per-block local shortlist + exact
        # rescore — peak allocation O(|Qb| × CORPUS_BLOCK), never
        # O(|Qb| × |bucket|) (docstring, "Per-bucket memory is BOUNDED")
        from etl_school_spark.similarity.gemm import blocked_shortlist_scores

        return blocked_shortlist_scores(qdf, cdf, local_k, block)

    scored = (
        qb.groupBy("t", "key")
        .cogroup(cb.groupBy("t", "key"))
        .applyInPandas(
            _bucket_score,
            schema="query_id long, neighbor_id long, score_raw double",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # cross-table duplicates carry bit-identical exact scores — any
        # surviving row of a pair is THE row
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_raw"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("score_raw").alias("score"), "rank")
    )


def _lit_d(x: float) -> str:
    """Round-trip double literal for Spark SQL ('D' suffix; CAST form for
    exponent notation, where the suffix grammar is finicky)."""
    r = repr(x)
    return f"CAST('{r}' AS DOUBLE)" if "e" in r or "E" in r else f"{r}D"


def _pool_code_sql(vec: str, planes: list[list[float]]) -> str:
    """SQL text of the same BIGINT pool code as ``pool_code``, as one
    unrolled parser-built expression (per-plane CASE WHEN terms summed).

    Two formulations of one value, and the choice is per-call-site,
    measured fresh-JVM at sf0.1: the dense self-join in
    ``lsh_candidate_pairs`` runs ~2.5× faster with this unrolled form
    (9.4 s → 3.6 s per bench iteration), while the sparser
    ``lsh_topk`` stage is ~10 % faster with the compact-literal HOF fold
    — interpreted nested-lambda evaluation and whole-stage-codegen
    interact differently with the two join shapes, so each keeps the
    form that wins in its own plan."""
    terms = []
    for i, p in enumerate(planes):
        arr = "array(" + ", ".join(_lit_d(x) for x in p) + ")"
        dot = (
            f"aggregate(zip_with(`{vec}`, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {_signed64(1 << i)}L ELSE 0L END)")
    # bits are disjoint powers of two (bit 63 carried by the one negative
    # literal), so the sum is exact two's-complement assembly — no overflow
    return " + ".join(terms)


def _pool_geometry(
    pool_bits: int, n_subsets: int, bits: int, dim: int, seed: int
) -> tuple[list[list[float]], list[list[int]]]:
    """The seeded hyperplane pool + subset bit lists — one definition
    shared by the Spark expression path (_pool_subsets) and the
    driver-side density probe (lsh_candidate_density), so the two can
    never disagree on the geometry."""
    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(pool_bits)]
    subsets = [sorted(rng.sample(range(pool_bits), bits)) for _ in range(n_subsets)]
    return planes, subsets


def _pool_subsets(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    pool_bits: int,
    n_subsets: int,
    bits: int,
    dim: int,
    seed: int,
) -> tuple[DataFrame, list[int]]:
    """(coded frame with (id, _pool), per-subset masks) — the shared
    front end of candidate generation (lsh_candidate_pairs) and
    collision-density estimation (lsh_collision_stats): one seeded
    hyperplane pool, one BIGINT sign code per vector, ``n_subsets``
    ``bits``-bit overlapping subsets of the pool as hash tables."""
    planes, subsets = _pool_geometry(pool_bits, n_subsets, bits, dim, seed)
    masks = [_signed64(sum(1 << b for b in s)) for s in subsets]
    coded = emb.select(
        F.col(id_col).alias("id"),
        F.expr(_pool_code_sql(vec_col, planes)).alias("_pool"),
    )
    return coded, masks


def lsh_candidate_density(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool_bits: int = 64,
    n_subsets: int = 96,
    bits: int = 4,
    dim: int = 64,
    seed: int = 7,
    sample_rows: int = 256,
) -> tuple[int, float]:
    """(n, sampled distinct-candidate density): the fraction of pairs the
    LSH blocking would pass through as candidates, measured on a bounded
    uniform sample — the auto-dispatch signal (dispatch.cosine_pairs_auto).

    Whether a pair collides in ≥1 subset is a property of the PAIR, so a
    uniform row sample estimates the pair-collision rate without bias —
    unlike the raw bucket collision MASS, which counts one row per
    colliding subset and therefore over-weights true near-dup pairs
    (they collide in ~every subset), mis-reading a healthy clustered
    corpus as degenerate. The probe runs the real candidate generator on
    ≤ ~sample_rows rows (hash-gated membership, deterministic), so its
    cost is bounded in EVERY regime — including the degenerate one where
    probing the full corpus would cost what the dispatch is trying to
    avoid. Sample size is a bias/cost dial: 256 rows → ≤ ~32 k sample
    pairs, plenty to separate a degenerate density (≈1) from a healthy
    clustered one (≈0.003) at the 0.25 cutoff, while keeping the probe's
    bucket join ≤ ~400 k rows even at density 1 (at 1 024 sample rows
    the same join measured ~10 M rows — the probe was the dominant cost
    of the dispatched query at sf0.1).

    r10: the probe runs DRIVER-SIDE on the collected sample. The old
    form ran lsh_candidate_pairs over the sample frame, whose pool-code
    expression (pool_bits × dim unrolled literals) cost ~7 s of pure
    data-independent driver ANALYSIS per cold session — the dominant
    cold cost of the dispatched query at sf1. The sample is ≤
    ~sample_rows rows by construction, so collecting it and replaying
    the identical arithmetic in numpy (sign of the strict left-to-right
    product fold per plane — gemm._seq_fold_sum, the engine's proven
    JVM-double twin; distinct pair counting = the first-collision
    form's distinct semantics) yields the SAME density value for
    milliseconds of driver time. Sample membership is unchanged (the
    same xxhash64 gate evaluates in Spark), so memoized dispatch
    decisions are identical."""
    from etl_school_spark.similarity.gemm import _seq_fold_sum

    import numpy as np

    n = emb.count()
    stride = max(1, n // sample_rows)
    idc = F.col(id_col)
    sample = emb if stride == 1 else emb.filter(
        F.pmod(F.xxhash64(idc), F.lit(stride)) == 0
    )
    rows = sample.select(vec_col).collect()
    # NULL vectors carry no pool code — the Spark-side probe's NULL join
    # keys never matched, so skip them here too (and exclude from n_s).
    rows = [r for r in rows if r[0] is not None]
    n_s = len(rows)
    if n_s < 2:
        return n, 0.0
    V = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    planes, subsets = _pool_geometry(pool_bits, n_subsets, bits, dim, seed)
    sign = np.empty((n_s, pool_bits), dtype=bool)
    for i, p in enumerate(planes):
        # CAST(x AS DOUBLE) * y then acc + x left-to-right — the exact
        # JVM fold (float32→float64 is exact; column fold = zip_with order)
        sign[:, i] = _seq_fold_sum(V * np.array(p, dtype=np.float64)) >= 0
    pairs: set = set()
    for s in subsets:
        buckets: dict = {}
        for r in range(n_s):
            key = tuple(sign[r, b] for b in s)
            buckets.setdefault(key, []).append(r)
        for members in buckets.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    pairs.add((members[i], members[j]))
    return n, len(pairs) / (n_s * (n_s - 1) / 2)


def lsh_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool_bits: int = 64,
    n_subsets: int = 96,
    bits: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing ANY subset bucket — the
    blocking stage of ``cosine_pairs_bucketed``, exposed so tests can
    assert the candidate count directly (sub-quadratic behavior on
    clustered corpora, tests/test_similarity.py).

    Emission is exactly-once WITHOUT a dedup shuffle: each join row knows
    both sides' full 64-bit pool codes, so a pair is kept only at its
    FIRST colliding subset — ``(pa XOR pb) AND mask_t' != 0`` for every
    earlier subset t'. The r2 shape shuffled every collision row into a
    dropDuplicates (24 M rows at sf0.1, 96.5 % of the pair space on this
    near-uniform corpus); the first-collision filter runs inside the join
    stage and forwards only distinct pairs. The bucket self-join itself
    stays (vs operators.pairs.pairs_within_groups) — on dense collisions
    the grouped collect_list expansion measured slower, and the join's
    double-evaluated child is just the one-word pool code."""
    coded, masks = _pool_subsets(
        emb, id_col, vec_col, pool_bits, n_subsets, bits, dim, seed
    )
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.expr(f"_pool & {m}L").alias("key"),
            )
            for t, m in enumerate(masks)
        ]
    )
    ids = coded.select("id", "_pool", F.explode(buckets).alias("b")).select(
        "id", "_pool", "b.t", "b.key"
    )
    # first-collision check as a flat CASE chain: short-circuits at the
    # first matching mask and does pure word ops — no per-row array
    # allocation (the exists/slice formulation measured +2 s at sf0.1
    # from allocating a sliced mask array per join row)
    case_chain = (
        "CASE "
        + " ".join(
            f"WHEN ((pa ^ pb) & {m}L) = 0L THEN {t}" for t, m in enumerate(masks)
        )
        + " ELSE -1 END"
    )
    first_collision = F.expr(f"({case_chain}) = t")
    return (
        ids.alias("a")
        .join(ids.alias("b"), ["t", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a._pool").alias("pa"),
            F.col("b._pool").alias("pb"),
            F.col("t"),
        )
        .filter(first_collision)
        .select("id_a", "id_b")
    )


def cosine_pairs_bucketed(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pool_bits: int = 64,
    n_subsets: int = 96,
    bits: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding near-dup pairs via LSH-bucketed candidate generation +
    exact-cosine verify — same output contract as ``cosine_pairs`` with
    no all-pairs cross join in the plan.

    Shape: one ``pool_bits``-bit sign code per vector (computed once,
    packed into a single BIGINT), ``n_subsets`` overlapping ``bits``-bit
    subsets of the pool as hash tables (combinatorial sharing — cheaper
    than independent tables), candidates = id pairs sharing ANY subset
    bucket, emitted exactly once at their first colliding subset (a
    word-op filter, no dedup shuffle — see lsh_candidate_pairs). Candidate
    rows carry only (subset, key, id, pool-word) — vectors are attached
    AFTER candidate generation, so the bucket-join shuffle is skinny.
    Exact cosine then filters candidates.

    Candidate completeness is probabilistic per missed subset
    ((1 - p^bits)^n_subsets with p = 1 - angle/pi); parameters are sized
    from MEASURED collision margins on the (deterministic, seed-7) test
    corpora: at 96 subsets × 4 bits every qualifying pair at threshold
    0.4 collides in ≥ 3 / ≥ 6 / ≥ 2 subsets at sf0.001/0.01/0.1 (recall
    exactly 1.0), while a background pair produces ~6 collision rows
    instead of ~16 at the r2 setting (128 × 3 bits) — the bucket join
    emits ~2.6× fewer rows for the same exact result. On near-uniform
    synthetic data at threshold 0.4 the candidate SET still degenerates
    toward all pairs (this data is LSH's worst case); on real near-dup
    corpora (threshold ~0.9, clustered) the same plan touches only
    colliding buckets — that is the 100 TB path, with ``bits`` scaled up
    to match the threshold (see the clustered-fixture test).
    """
    from etl_school_spark.tables import fan_out

    emb = fan_out(emb)  # pool-code scan is pre-shuffle fold work
    cand = lsh_candidate_pairs(emb, id_col, vec_col, pool_bits, n_subsets, bits, dim, seed)
    # double-cast arrays and norms precomputed ONCE per vector (not per
    # candidate pair); the score expression dot/(na·nb) is
    # value-identical to cosine() — same summation order — so the
    # brute-force oracle needs no change
    vd = as_double(F.col(vec_col))
    va = emb.select(
        F.col(id_col).alias("id_a"),
        vd.alias("va"),
        l2_norm(vd).alias("_na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        vd.alias("vb"),
        l2_norm(vd).alias("_nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos",
            dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("cos").alias("cosine_sim"))
    )
