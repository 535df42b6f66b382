"""Regime dispatch for embedding near-dup pair generation.

The two physical forms of "all pairs with cosine ≥ t" have disjoint
sweet spots:

- ``knn.cosine_pairs_bucketed`` (LSH blocking + exact verify) — the
  100 TB path when qualifying pairs are SPARSE: candidates ∝ colliding
  buckets, the pair space is never touched.
- ``gemm.cosine_pairs_dense`` (block gemm + exact rescore) — the right
  plan when blocking DEGENERATES (low threshold, near-uniform vectors):
  if ~every pair collides anyway, per-candidate join rows lose to BLAS
  batch arithmetic by orders of magnitude.

Neither form knows at author time which regime a given corpus is in, so
the dispatcher MEASURES it: ``knn.lsh_candidate_density`` runs the real
candidate generator on a bounded uniform sample and reports the fraction
of pairs the blocking would pass through. Both branches emit
bit-identical (pair, score) rows — same sequential-fold doubles — so
dispatch changes the PLAN, never the answer, and either branch satisfies
the same exact-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_school_spark.similarity.gemm import DenseCapExceeded, cosine_pairs_dense
from etl_school_spark.similarity.knn import (
    cosine_pairs_bucketed,
    lsh_candidate_density,
)
from etl_school_spark.tables import forget_probe, memoized_probe


#: The dense branch's block size and block count: its rows bound is
#: DENSE_BLOCK · MAX_DENSE_BLOCKS (gemm.cosine_pairs_dense's cap).
DENSE_BLOCK = 2048
MAX_DENSE_BLOCKS = 64
#: Sampled candidate density at or above which blocking no longer prunes
#: and the dense branch runs.
DENSE_CUTOFF = 0.25
#: Probe sample size — keeps the probe's bucket join ≤ ~400 k rows even
#: at density 1 (knn.lsh_candidate_density).
PROBE_ROWS = 256


def cosine_pairs_auto(
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
    """Near-dup pairs (i < j, cosine ≥ threshold) via whichever physical
    form the measured candidate density favors.

    Dispatch rule: sample PROBE_ROWS rows, run the real LSH candidate
    generator on the sample, and measure the fraction of sample pairs
    that survive blocking. Density ≥ DENSE_CUTOFF means blocking is no
    longer pruning — the bucketed plan would grind through ≥ a quarter
    of the pair space as join rows plus the exact verify — so run the
    block-gemm form instead (provided the corpus fits its dense-regime
    bound of DENSE_BLOCK · MAX_DENSE_BLOCKS rows; a corpus past that
    bound with degenerate blocking needs different LSH parameters —
    more bits per subset — not a bigger gemm). Low density means
    blocking works: bucketed, the 100 TB path.

    The probe is bounded in every regime (codes + bucket join over ≤ ~1k
    rows); the chosen branch then computes its own codes (the probe's
    sample front end is not reusable for the full corpus anyway). LSH
    parameters apply to BOTH the probe and the bucketed branch, so the
    measured density prices exactly the plan that would run.

    The probe result is MEMOIZED per (input plan, probe params) in the
    engine's one probe memo (tables.memoized_probe, r8, measured): the
    probe's cost is almost entirely driver-side analysis of the
    literal-heavy hyperplane expression (~2.4 s warm at sf0.1 —
    data-independent), while the probe itself is deterministic
    (hash-gated sample membership), so a repeated dispatch over the same
    frame re-derives the same density. Staleness contract (r9): both
    branches emit bit-identical rows, but the dense branch additionally
    fail-louds when the corpus exceeds its cap at EXECUTION time — so a
    stale memoized n (content grew past the cap under an unchanged
    analyzed plan, or a semanticHash collision) could route a
    now-oversized corpus into cosine_pairs_dense's DenseCapExceeded.
    When the DENSE branch raises DenseCapExceeded while dispatch
    believed the corpus fit, the stale entry is EVICTED and the dispatch
    re-probes once — the refreshed count then routes to the bucketed
    branch (or re-raises if the corpus genuinely is
    dense-regime-degenerate AND over the cap, which is a real parameter
    error, not staleness). A stale entry can only ever route TO the
    dense branch wrongly, so this one eviction path covers it.
    """
    tag = "cosine_pairs_auto"
    params = (id_col, vec_col, pool_bits, n_subsets, bits, dim, seed, PROBE_ROWS)

    def probed() -> tuple[int, float]:
        return memoized_probe(
            emb,
            tag,
            params,
            lambda: lsh_candidate_density(
                emb, id_col, vec_col, pool_bits, n_subsets, bits, dim, seed,
                PROBE_ROWS,
            ),
        )

    n, density = probed()
    cap = DENSE_BLOCK * MAX_DENSE_BLOCKS
    if n <= cap and density >= DENSE_CUTOFF:
        try:
            return cosine_pairs_dense(
                emb,
                threshold,
                id_col,
                vec_col,
                block=DENSE_BLOCK,
                max_blocks=MAX_DENSE_BLOCKS,
            )
        except DenseCapExceeded:
            # memoized n said "fits" but the cap check inside the dense
            # branch (which counts the REAL corpus) disagreed — the memo
            # entry is stale; evict, re-probe once, re-dispatch. Catching
            # the dedicated type (not ValueError) keeps any future
            # unrelated failure inside the dense branch loud (r10 ADVICE)
            forget_probe(emb, tag, params)
            n, density = probed()
            if n <= cap and density >= DENSE_CUTOFF:
                raise  # genuinely dense-degenerate AND over the cap
    return cosine_pairs_bucketed(
        emb, threshold, id_col, vec_col, pool_bits, n_subsets, bits, dim, seed
    )
