"""Semantic deduplication (SemDeDup): embedding-space near-duplicate
removal via cluster-then-dedup — the published method for pruning
semantically redundant training data (Abbas et al. 2023,
arXiv:2303.09540), composed from this engine's measured blocks:

1. deterministic Lloyd's k-means (ivf.train_centroids — the exact
   fixed-point form the `ann_topk_ivf` driver oracle replays
   move-for-move in SQL, so training needs no new trust argument);
2. one scan assigns every vector its nearest cell and precomputes the
   double-cast array + L2 norm (the ivf_topk projection pattern — the
   pair join below then pays only the product fold per candidate);
3. within-cell pairwise cosine ≥ threshold → duplicate edges, by
   per-cell blocked BLAS (integer ids) or a declarative cell equi-join
   (id_a < id_b) — candidate volume is Σ |cell|²/2, governed by the
   n_cells ≈ √corpus sizing rule. Cross-cell
   near-duplicates are NOT examined — that is SemDeDup's defining
   approximation (dedup within clusters only), stated in the paper and
   inherited here verbatim;
4. connected components over the edges (cluster.connected_components
   with its capped driver-side union-find — duplicate edges are the
   minority of any healthy corpus) and ONE survivor per component:
   ``keep="min_id"`` (deterministic canonical, the engine's dedup
   convention) or ``keep="farthest"`` (keep the least prototypical
   member). The farthest ranking is selectable (``far_rank``, r11):
   "sq_l2" (default) ranks by GREATEST SQUARED-L2 DISTANCE to the cell
   centroid — exactly the paper's lowest-cosine rule on L2-normalized
   embeddings (‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c is monotone-decreasing in
   cos when ‖v‖ is constant, and the published setting normalizes);
   "cosine" ranks by LOWEST COSINE to the centroid — the literal paper
   rule at every geometry, for unnormalized inputs where magnitude
   would otherwise dominate the survivor choice. The Python
   differential twin replays both rankings, including an unnormalized
   geometry where they provably disagree.

Reference analog: none (the reference has no embedding surface); this
extends the dedup family the same way dedup/contamination.py extends
exact dedup. Correctness: differential tests pin assignment, pair
detection, components, and both keep rules against an independent
pure-Python reference with the same sequential fold order
(tests/test_similarity.py); training itself is pinned by the
`ann_topk_ivf` driver oracle.

At 100 TB: training cost is the ivf contract (n_cells × dim collect of
fixed-point sums per iteration); the assignment scan is linear; the
pair join shuffles one skinny row per vector on the cell key and its
output is quadratic only WITHIN cells (size the cell count to the
corpus: n_cells ≈ √n keeps E[|cell|²·n_cells] ≈ n^1.5 — the documented
SemDeDup cost — and a genuinely hot cell is visible in one
groupBy-count census, same instrument as dedup/census.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_school_spark.functions.vectors import as_double, dot, l2_norm
from etl_school_spark.similarity.ivf import (
    _nearest_cell_arrow,
    train_centroids,
)

#: Expected cell size (n / n_cells) up to which the within-cell pair stage
#: takes the gemm form — the Arrow group-frame bound (_resolve_pair_form).
GEMM_CELL_BOUND = 65_536
#: gemm form: per-cell numpy allocations are O(CELL_BLOCK²)
#: (gemm.blocked_pair_edges).
CELL_BLOCK = 4096


def _auto_cells(n: int) -> int:
    """Cell-count derivation for ``semantic_dedup(n_cells="auto")``:
    ⌈√n⌉ (exact integer math), clamped ≥ 1 — the SemDeDup sizing rule
    the module docstring and the census prescribe. Keeps the within-cell
    pair stage at E[Σ|cell|²/2] ≈ n^1.5/2 as the corpus grows, instead
    of the O(n²/n_cells) a FIXED cell count degrades to (the r9
    semantic_census measured Σ pairs ×100 for ×10 data at n_cells=16).
    The same derivation pattern as knn._auto_bits: one corpus count,
    then a closed-form parameter."""
    if n <= 1:
        return 1
    import math

    return math.isqrt(n - 1) + 1  # ceil(sqrt(n)) in exact integer math


def _resolve_pair_form(
    embs: DataFrame,
    id_col: str,
    n_cells: int,
    n: int | None,
) -> tuple[str, int | None]:
    """The within-cell pair stage's physical form (unit-tested directly —
    the pair stage executes eagerly inside connected_components, so the
    choice is not visible in the output plan): gemm when ids are
    integral AND the EXPECTED cell size n/n_cells is within
    GEMM_CELL_BOUND, else sql. Reuses the n_cells="auto" count when
    available (one extra count job only for pinned-n_cells integral-id
    callers)."""
    integral = dict(embs.dtypes).get(id_col) in (
        "tinyint", "smallint", "int", "bigint",
    )
    if not integral:
        return "sql", n
    if n is None:
        n = embs.count()
    form = "gemm" if n / max(1, n_cells) <= GEMM_CELL_BOUND else "sql"
    return form, n


def semantic_dedup(
    embs: DataFrame,
    threshold: float = 0.95,
    n_cells: int | str = "auto",
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "min_id",
    collect_cap: int = 1_000_000,
    far_rank: str = "sq_l2",
) -> DataFrame:
    """SemDeDup over an embedding frame.

    Returns one row per input vector:
    (``id_col``, cell, component, keep) — ``component`` is the duplicate
    group's canonical min id (singletons: the vector's own id), ``keep``
    marks the group's one survivor under the chosen rule. Filtering on
    ``keep`` yields the deduplicated corpus.

    ``keep="min_id"``: lowest id per component survives.
    ``keep="farthest"``: the least-prototypical member of each
    component survives (id tiebreak). Every component lies within one
    cell by construction (edges never cross cells), so the ranking is
    within a single centroid's geometry. ``far_rank`` picks the
    ranking (r11, closing the r10 proxy note):

    - "sq_l2" (default): greatest squared-L2 distance to the cell
      centroid — for L2-NORMALIZED embeddings this is EXACTLY the
      paper's lowest-cosine rule (‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c is
      monotone-decreasing in cos when ‖v‖ is constant), and it is the
      default because SemDeDup's published setting normalizes.
    - "cosine": LOWEST cosine to the cell centroid — the literal
      paper rule at every geometry, for callers with unnormalized
      embeddings (the survivor may differ from sq_l2 exactly where a
      member's magnitude, not its angle, dominates its distance).
      Both rankings are pinned against the pure-Python twin on a
      geometry where they provably disagree.
    ``keep="both"`` (r10): one pass, BOTH flags — train, assignment,
    pairs, and components are rule-independent, so a caller wanting
    both rules (the embedding_suite driver query) pays the pipeline
    once; output columns are ``keep_min`` and ``keep_far``, each
    bit-identical to the corresponding single-rule run (test-pinned).

    ``n_cells="auto"`` (the default since r10) derives ⌈√n⌉ from one
    corpus count (_auto_cells) so the within-cell quadratic tracks the
    documented n^1.5 SemDeDup cost at any scale; pass an int to pin the
    cell count (the oracle-replayed registered shape does).

    The PHYSICAL form of the within-cell pair stage is chosen here
    (_resolve_pair_form, r10) — the edge set is identical either way
    (same oracle): gemm when its contracts hold — integer ids AND
    expected cell size n/n_cells ≤ GEMM_CELL_BOUND (the Arrow
    group-frame bound; at the n_cells="auto" default this is ⌈√n⌉ by
    construction, so auto corpora pick gemm up to ~4B vectors) — else
    sql. Derived from the corpus count already taken for
    n_cells="auto" (one extra count job only when n_cells is pinned).
    Expected size, not a census: a skewed hot cell can exceed it —
    semantic_census is the instrument, and the block tiling caps numpy
    allocations at O(CELL_BLOCK²) regardless (the group frame itself is
    the residual, the same applyInPandas caveat as knn.lsh_topk).

    - "sql": the declarative cell equi-join + per-candidate
      HOF fold. No per-group memory contract at all; streams through
      codegen. Each candidate pays an interpreted dim-wide fold.
    - "gemm": per-cell groupBy-applyInPandas with an upper-triangle
      blocked BLAS product (gemm.blocked_pair_edges — the ivf/lsh
      physical form): approximate scores SHORTLIST at threshold −
      margin, the exact sequential fold DECIDES, so the emitted pairs
      are bit-identically the SQL form's (differential-tested,
      boundary pairs included). The group frame is cell-sized
      (inherent to applyInPandas; bounded by ⌈√n⌉ cell sizing), numpy
      allocations are O(CELL_BLOCK²). Requires INTEGER ids (the edge
      schema is long/long) — string-id corpora take the "sql" form,
      which is id-type-agnostic. Measured crossover in SCALING.md
      r10 — candidate-heavy cells (pinned small n_cells, large corpora)
      are where BLAS wins by an order of magnitude.
    """
    if keep not in ("min_id", "farthest", "both"):
        raise ValueError(
            f"keep must be 'min_id', 'farthest' or 'both', got {keep!r}"
        )
    if far_rank not in ("sq_l2", "cosine"):
        raise ValueError(
            f"far_rank must be 'sq_l2' or 'cosine', got {far_rank!r}"
        )
    from etl_school_spark.tables import fan_out

    # assignment + the cell self-join are fold-heavy pre-shuffle work; a
    # single-file scan would serialize them (train_centroids docstring)
    embs = fan_out(embs)
    n = None
    if n_cells == "auto":
        n = embs.count()
        n_cells = _auto_cells(n)
    form, n = _resolve_pair_form(embs, id_col, n_cells, n)
    centroids = train_centroids(embs, n_cells, iters, id_col, vec_col)

    vd = as_double(F.col(vec_col))
    assigned = embs.select(
        F.col(id_col).alias("vid"),
        vd.alias("v"),
        l2_norm(vd).alias("_n"),
        _nearest_cell_arrow(centroids)(F.col(vec_col)).alias("cell"),
    )

    if form == "gemm":
        from etl_school_spark.similarity.gemm import blocked_pair_edges

        block = CELL_BLOCK

        def _score(pdf):
            return blocked_pair_edges(pdf, float(threshold), block)

        edges = assigned.groupBy("cell").applyInPandas(
            _score, schema="id_a long, id_b long"
        )
    else:
        a = assigned.select(
            F.col("vid").alias("id_a"),
            F.col("v").alias("va"),
            F.col("_n").alias("na"),
            "cell",
        )
        b = assigned.select(
            F.col("vid").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("_n").alias("nb"),
            "cell",
        )
        edges = (
            a.join(b, ["cell"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
                >= threshold
            )
            .select("id_a", "id_b")
        )

    from etl_school_spark.dedup.cluster import connected_components

    labels = connected_components(edges, collect_cap=collect_cap)
    out = assigned.select("vid", "cell").join(
        labels.withColumnRenamed("node", "vid"), "vid", "left"
    )
    out = out.withColumn("component", F.coalesce("component", "vid"))

    if keep == "min_id":
        return out.select(
            F.col("vid").alias(id_col),
            "cell",
            "component",
            (F.col("vid") == F.col("component")).alias("keep"),
        )

    # farthest-from-centroid: rank members of each component by the
    # chosen least-prototypical measure against their (shared) cell's
    # centroid, id tiebreak
    from pyspark.sql.window import Window

    from etl_school_spark.similarity.ivf import _cell_cos_arrow, _cell_dist_arrow

    if far_rank == "cosine":
        # literal paper rule: LOWEST cosine to the centroid survives
        # (ascending rank); exact-fold kernel, twin-replayable
        with_d = assigned.select(
            "vid",
            "cell",
            _cell_cos_arrow(centroids)(
                F.col("v"), F.col("cell"), F.col("_n")
            ).alias("_d"),
        )
        order = [F.asc("_d"), F.asc("vid")]
    else:
        # distance to the OWN cell's centroid via the Arrow kernel (r10)
        # — bit-identical to the per-cell _sq_dist CASE chain it
        # replaces, without the √n-branch plan growth under
        # n_cells="auto" (see _cell_dist_arrow's docstring)
        with_d = assigned.select(
            "vid",
            "cell",
            _cell_dist_arrow(centroids)(F.col("v"), F.col("cell")).alias("_d"),
        )
        order = [F.desc("_d"), F.asc("vid")]
    with_d = with_d.join(out.select("vid", "component"), "vid")
    w = Window.partitionBy("component").orderBy(*order)
    ranked = with_d.withColumn("_r", F.row_number().over(w))
    if keep == "both":
        return ranked.select(
            F.col("vid").alias(id_col),
            "cell",
            "component",
            (F.col("vid") == F.col("component")).alias("keep_min"),
            (F.col("_r") == 1).alias("keep_far"),
        )
    return ranked.select(
        F.col("vid").alias(id_col),
        "cell",
        "component",
        (F.col("_r") == 1).alias("keep"),
    )
