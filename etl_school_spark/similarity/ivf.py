"""IVF (inverted-file) approximate nearest neighbor — the classic
coarse-quantizer scale path (FAISS-style IVF-Flat, re-expressed as
DataFrame ops).

Train: a few Lloyd iterations assign every corpus vector to its nearest
of ``n_cells`` centroids. Centroid updates use fixed-point (scaled
BIGINT) accumulation: each element is snapped to a 1e-6 grid and summed
as an integer, so the sum is exact and associative — bit-identical
regardless of partition order AND reproducible by any engine that
multiplies/rounds/divides in IEEE double (the basis of the DuckDB oracle
twin in workload/similarityops.py). The 1e-6 snap is far below any
distance that matters to a coarse quantizer, and integer accumulators
are also the cheap path at 100 TB (no decimal widening in the shuffle).

Search: a query probes only its ``nprobe`` nearest cells; candidates are
the corpus vectors in those cells (a per-cell cogroup, NOT a cross
join), then exact cosine + per-query top-k. At 100 TB the corpus is
partitioned by cell id, so a probe touches nprobe/n_cells of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.functions.vectors import as_double, l2_norm


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    """Exact-order-independent squared L2 distance to a constant centroid.

    The centroid ships as ONE compact array literal (F.lit of a 1-D
    numpy array = a single Catalyst Literal leaf), not per-element
    F.lit calls — the same representation lesson as knn.pool_code: the
    per-element form put n_cells × dim Literal nodes into every
    assignment expression, and the analyzer/optimizer re-walked them on
    each of the training loop's per-iteration plans (measured below in
    train_centroids' docstring). Arithmetic unchanged: the zip_with
    fold order is identical, so distances — and therefore cell
    assignments and the trained centroids — are bit-identical."""
    import numpy as np

    c = F.lit(np.array([float(x) for x in centroid], dtype=np.float64))
    return F.aggregate(
        F.zip_with(vec_col.cast("array<double>"), c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_cell(vec_col: Column, centroids: list[list[float]]) -> Column:
    ds = F.array(*[_sq_dist(vec_col, c) for c in centroids])
    # array_position is 1-based; first match breaks ties deterministically
    return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")


def _sq_dists_matrix(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n × k) squared-L2 distances in the EXACT _sq_dist fold order:
    per centroid, squared diffs accumulated column-by-column
    (acc ← acc + P[:, j], each step one IEEE binary64 add — precisely
    the zip_with left fold). The ONE definition all four Arrow kernels
    share (r10 review: the fold was pasted four times; a future change
    missing one copy would silently break the bit-identical contract
    for only some consumers)."""
    D = np.empty((V.shape[0], C.shape[0]), dtype=np.float64)
    for k in range(C.shape[0]):
        P = V - C[k]
        P *= P
        acc = np.zeros(V.shape[0], dtype=np.float64)
        for j in range(P.shape[1]):  # strict left-to-right column fold
            acc = acc + P[:, j]
        D[:, k] = acc
    return D


#: cells per BLAS tile in _assign_cells — bounds per-task numpy peak at
#: O(arrow_batch_rows × chunk) float64 independent of n_cells (the same
#: role CELL_BLOCK plays in gemm.blocked_shortlist_scores)
_ASSIGN_CELL_CHUNK = 256

#: ivf_topk: corpus rows per BLAS tile of a cell's scorer — per-task numpy
#: peak O(|probing queries| × CELL_BLOCK) (gemm.blocked_shortlist_scores)
CELL_BLOCK = 4096


def _assign_cells(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """Nearest-cell assignment, BIT-IDENTICAL to
    ``np.argmin(_sq_dists_matrix(V, C), axis=1)`` (the exact-fold rule
    with numpy's first-minimum tie break), computed with ONE BLAS
    distance matrix instead of an O(n_cells) Python loop of exact
    column folds (r11 — the n_cells-axis posture item: the ⌈√n⌉ auto
    sizing GROWS n_cells with the corpus, so the per-batch fold loop
    was the one place the r10 design bent before 100×).

    The engine's proven shortlist-then-exact-decide pattern
    (gemm.blocked_shortlist_scores): the approximate distances
    ``‖v‖² + ‖c‖² − 2·VCᵀ`` (reassociation-tolerant, one gemm) select
    each row's candidate cells within a safety margin of its row
    minimum; the exact column fold then DECIDES among the shortlist
    only. Exactness: with E bounding both |approx − real| and
    |fold − real| per entry, every cell whose FOLD value equals the
    row's fold minimum has approx ≤ (row approx min) + 2E — so a
    margin ≥ 2E keeps ALL exact-minimum cells in the shortlist, and
    the first-minimum over the shortlist (non-candidates padded +inf)
    equals the first-minimum over all cells. The margin below is the
    classic summation envelope O(dim)·u·(‖v‖² + ‖c‖²) with ≥4×
    slack (terms of the squared distance are non-negative, so the
    relative bound is clean), plus an absolute floor for
    zero-magnitude rows — over-admission is SAFE (the exact fold
    decides), only under-admission could break the bit contract.
    Single-candidate rows skip the fold entirely: their one candidate
    contains every exact-minimum cell, hence IS the unique first
    minimum — on real corpora that is ~all rows, making assignment
    O(rows·dim) BLAS + O(ties) folds instead of O(rows·cells·dim)
    interpreted folds. Tie geometries (planted midpoints, duplicate
    centroids, integer-grid fuzz) are test-pinned against the full
    exact matrix.

    The cell axis is TILED in _ASSIGN_CELL_CHUNK slices (the
    blocked_shortlist_scores memory contract): an unblocked rows ×
    n_cells float64 matrix is exactly the allocation the ⌈√n⌉ sizing
    grows without bound (measured: at 10k-row Arrow batches × 4096
    cells × 32 tasks the full-matrix form thrashed ~20 GB and LOST to
    the old fold loop; tiled, peak is O(rows × chunk) per task and the
    win holds at every n_cells). Per tile, entries within margin of
    the TILE row-min are kept (a superset of the global candidates —
    the global min is ≤ every tile min, so every true candidate
    survives its own tile's cut); the post-pass filters against the
    global row-min, then single-candidate rows scatter directly and
    only multi-candidate rows pay exact folds."""
    n, dim = V.shape
    k = C.shape[0]
    vn = (V * V).sum(axis=1)
    cn = (C * C).sum(axis=1)
    u = np.finfo(np.float64).eps
    margin = 64.0 * dim * u * (vn + cn.max() + 1.0)
    best = np.full(n, np.inf)
    rows_l: list = []
    cells_l: list = []
    vals_l: list = []
    for lo in range(0, k, _ASSIGN_CELL_CHUNK):
        hi = min(lo + _ASSIGN_CELL_CHUNK, k)
        A = vn[:, None] + cn[None, lo:hi] - 2.0 * (V @ C[lo:hi].T)
        tile_min = A.min(axis=1)
        np.minimum(best, tile_min, out=best)
        ri, ci = np.nonzero(A <= (tile_min + margin)[:, None])
        rows_l.append(ri)
        cells_l.append(ci + lo)
        vals_l.append(A[ri, ci])
    rows = np.concatenate(rows_l)
    cells = np.concatenate(cells_l)
    vals = np.concatenate(vals_l)
    keep = vals <= best[rows] + margin[rows]
    rows, cells = rows[keep], cells[keep]
    counts = np.bincount(rows, minlength=n)
    out = np.empty(n, dtype=np.int64)
    single = counts[rows] == 1
    out[rows[single]] = cells[single]
    multi = np.nonzero(counts > 1)[0]
    if multi.size:
        pos = np.full(n, -1, dtype=np.int64)
        pos[multi] = np.arange(multi.size)
        mr, mc = rows[~single], cells[~single]
        Dm = np.full((multi.size, k), np.inf)
        for cell in np.unique(mc):
            rk = mr[mc == cell]
            Dm[pos[rk], cell] = _sq_dists_matrix(V[rk], C[cell : cell + 1])[:, 0]
        out[multi] = np.argmin(Dm, axis=1)
    return out


def _vectors_and_mask(v: pd.Series) -> tuple["np.ndarray", "np.ndarray"]:
    """float64 matrix of the non-NULL rows + the row validity mask.
    NULL embeddings produced NULL outputs in the HOF expression forms
    (and contributed nothing to training sums, since posexplode of a
    NULL array emits no rows); the Arrow kernels preserve that contract
    instead of crashing on an inhomogeneous np.array (r10 review)."""
    mask = np.array([x is not None for x in v], dtype=bool)
    rows = [np.asarray(x, dtype=np.float64) for x, ok in zip(v, mask) if ok]
    V = np.array(rows) if rows else np.empty((0, 0), dtype=np.float64)
    return V, mask


def _nearest_cell_arrow(centroids: list[list[float]]):
    """Arrow/BLAS form of _nearest_cell — BIT-IDENTICAL assignments,
    ~10× the scan throughput (r10).

    Spark never code-generates higher-order functions: _sq_dist's
    aggregate(zip_with(...)) evaluates INTERPRETED, one element at a
    time, so the assignment scan — n_cells × dim folds per row, the
    dominant cost of train_centroids/ivf_topk/semantic_dedup at sf1 —
    was CPU-bound on expression interpretation (measured ~6 s per
    training iteration at 20k × 16 × 64). This pandas_udf replays the
    EXACT arithmetic vectorized over Arrow batches via _assign_cells
    (r11: one BLAS distance matrix shortlists candidate cells within a
    reassociation-safety margin; the exact column fold — acc ← acc +
    P[:, j], precisely _sq_dist's left-to-right zip_with fold — decides
    among the shortlist, with numpy's first-minimum matching
    array_position's tie rule). float32→float64 conversion is exact on
    both paths. Equality with the HOF form is test-pinned on real
    embeddings and fuzzed geometries; every oracle that replays
    assignment (ann_topk_ivf, embedding_suite semantic branches) runs
    against this form in the registered queries.

    Centroids travel in the UDF closure (n_cells × dim float64 — KBs
    even at the ⌈√n⌉ auto sizing), so like the literal form there are
    no broadcast handles to manage."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        V, mask = _vectors_and_mask(v)
        out = np.full(len(v), None, dtype=object)
        if V.shape[0]:
            out[mask] = list(_assign_cells(V, C))
        return pd.Series(out, dtype="object")

    return nearest


#: fixed-point grid for centroid accumulation: round(x * SCALE) as BIGINT.
#: Half-way cases round away from zero in Spark (HALF_UP), DuckDB
#: (std::round) and Python (see _mean below) alike, and the .5 boundary is
#: exactly representable for |x*SCALE| < 2^52, so the snapped integers are
#: engine-identical — which makes the whole training data-parallel AND
#: oracle-replayable.
SCALE = 1_000_000


def _cell_dist_arrow(centroids: list[list[float]]):
    """Squared-L2 distance of each vector to ITS OWN assigned cell's
    centroid, vectorized over Arrow batches (r10) — the semantic_dedup
    keep="farthest" ranking distance. Same exactness contract as
    _nearest_cell_arrow: per cell, squared diffs accumulated
    column-by-column in the _sq_dist zip_with fold order, so emitted
    doubles are bit-identical to the per-cell CASE chain of _sq_dist
    literals this replaces — which grew one branch + one array literal
    per cell and at the ⌈√n⌉ auto sizing became a plan-size hazard
    (1000-branch CASE at 1M vectors) on top of the HOF interpretation
    tax."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)

    @pandas_udf("double")
    def dist(v: pd.Series, cell: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="float64")
        V, mask = _vectors_and_mask(v)
        # NULL cells arrive as None OR NaN (pandas widens int-with-null
        # to float) — both mean "no assignment"
        cells_all = np.array(
            [-1 if pd.isna(c) else int(c) for c in cell], dtype=np.int64
        )
        mask &= cells_all >= 0  # NULL vector or NULL cell → NULL distance
        out = np.full(n, None, dtype=object)
        if mask.any():
            # re-pack the valid rows so V (built from vector-valid rows)
            # aligns with the combined mask
            valid_rows = [
                np.asarray(x, dtype=np.float64)
                for x, ok in zip(v, mask)
                if ok
            ]
            Vv = np.array(valid_rows)
            cells = cells_all[mask]
            vals = np.empty(Vv.shape[0], dtype=np.float64)
            for k in np.unique(cells):
                m = cells == k
                D = _sq_dists_matrix(Vv[m], C[k : k + 1])
                vals[m] = D[:, 0]
            out[mask] = list(vals)
        return pd.Series(out, dtype="object")

    return dist


def _cell_cos_arrow(centroids: list[list[float]]):
    """Cosine of each vector to ITS OWN assigned cell's centroid (r11)
    — the paper-literal SemDeDup keep="farthest" ranking for
    UNNORMALIZED inputs (semantic_dedup far_rank="cosine"). Exactness
    contract of the engine: the dot is the strict left-to-right column
    fold (gemm._seq_fold_sum — precisely vectors.dot's zip_with fold),
    the vector norm arrives JVM-computed (the caller's l2_norm
    projection), and each centroid norm is sqrt of the same sequential
    square fold (vectors.l2_norm's order) — so emitted doubles equal
    the declarative dot(v,c)/(norm(v)·norm(c)) expression bit for bit
    and the pure-Python twin replays them exactly."""
    from pyspark.sql.functions import pandas_udf

    from etl_school_spark.similarity.gemm import _seq_fold_sum

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)
    cnorm = np.sqrt(_seq_fold_sum(C * C))

    @pandas_udf("double")
    def cos(v: pd.Series, cell: pd.Series, n: pd.Series) -> pd.Series:
        m = len(v)
        if m == 0:
            return pd.Series([], dtype="float64")
        _, mask = _vectors_and_mask(v)
        cells_all = np.array(
            [-1 if pd.isna(c) else int(c) for c in cell], dtype=np.int64
        )
        norms_all = np.array(
            [np.nan if x is None else float(x) for x in n], dtype=np.float64
        )
        mask &= cells_all >= 0
        mask &= ~np.isnan(norms_all)
        out = np.full(m, None, dtype=object)
        if mask.any():
            valid_rows = [
                np.asarray(x, dtype=np.float64) for x, ok in zip(v, mask) if ok
            ]
            Vv = np.array(valid_rows)
            cells = cells_all[mask]
            norms = norms_all[mask]
            vals = np.empty(Vv.shape[0], dtype=np.float64)
            for k in np.unique(cells):
                sel = cells == k
                vals[sel] = _seq_fold_sum(Vv[sel] * C[k]) / (norms[sel] * cnorm[k])
            out[mask] = list(vals)
        return pd.Series(out, dtype="object")

    return cos


def _all_dists_arrow(centroids: list[list[float]]):
    """All n_cells squared-L2 distances per vector as one array<double>
    (r10) — the probe-ranking front end of ivf_topk. Same exactness
    contract as _nearest_cell_arrow / _cell_dist_arrow (column-fold
    order per centroid), so the posexploded (cell, dist) rows rank
    probes identically to the per-cell _sq_dist array this replaces —
    which grew one HOF fold + one array literal per cell per QUERY
    row."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)

    @pandas_udf("array<double>")
    def dists(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype="object")
        V, mask = _vectors_and_mask(v)
        out = np.full(n, None, dtype=object)
        if V.shape[0]:
            D = _sq_dists_matrix(V, C)
            # per-index assignment: a masked 2-D assignment would try to
            # broadcast the row structure into the object array
            for i, row in zip(np.nonzero(mask)[0], D):
                out[i] = row.tolist()
        return pd.Series(out, dtype="object")

    return dists


def _probe_cells_arrow(centroids: list[list[float]], nprobe: int):
    """The ``nprobe`` nearest cells per query vector as ONE array<int>
    (r11) — replaces the posexplode-all-cells + Window row_number probe
    ranking of ivf_topk, whose shuffle carried n_cells rows per query
    (the remaining n_cells-axis term on the query side after
    _assign_cells fixed the corpus side).

    Same shortlist-then-exact-decide contract as _assign_cells, order-
    statistic form: per 256-cell BLAS tile, entries within margin of
    the TILE's nprobe-th smallest approximate distance are kept — the
    global nprobe-th smallest is ≤ every tile's, so every cell of the
    true top-nprobe set survives its tile's cut (≤ nprobe−1 cells can
    have exact dist strictly below the nprobe-th order statistic, so
    the statistic's approx value sits within E of exact — the
    _assign_cells margin covers 2E). The exact column fold then orders
    the kept candidates by (dist, cell) and the first nprobe are
    EXACTLY the cells the old rank-over-all-distances rule selects
    (same fold values, same tie rule; the probe SET is what downstream
    consumes, so ivf_topk's output is bit-identical — differential-
    pinned, duplicate-centroid ties included)."""
    from pyspark.sql.functions import pandas_udf

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)

    @pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        m = len(v)
        if m == 0:
            return pd.Series([], dtype="object")
        V, mask = _vectors_and_mask(v)
        out = np.full(m, None, dtype=object)
        if V.shape[0]:
            n, dim = V.shape
            k = C.shape[0]
            kk = min(nprobe, k)
            vn = (V * V).sum(axis=1)
            cn = (C * C).sum(axis=1)
            u = np.finfo(np.float64).eps
            margin = 64.0 * dim * u * (vn + cn.max() + 1.0)
            rows_l: list = []
            cells_l: list = []
            vals_l: list = []
            for lo in range(0, k, _ASSIGN_CELL_CHUNK):
                hi = min(lo + _ASSIGN_CELL_CHUNK, k)
                A = vn[:, None] + cn[None, lo:hi] - 2.0 * (V @ C[lo:hi].T)
                width = hi - lo
                if width > kk:
                    cut = np.partition(A, kk - 1, axis=1)[:, kk - 1]
                else:
                    cut = A.max(axis=1)
                ri, ci = np.nonzero(A <= (cut + margin)[:, None])
                rows_l.append(ri)
                cells_l.append(ci + lo)
                vals_l.append(A[ri, ci])
            rows = np.concatenate(rows_l)
            cells = np.concatenate(cells_l)
            vals = np.concatenate(vals_l)
            picked = []
            for r in range(n):
                sel = rows == r
                rc, rv = cells[sel], vals[sel]
                if len(rv) > kk:
                    gcut = np.partition(rv, kk - 1)[kk - 1]
                    keep = rv <= gcut + margin[r]
                    rc = rc[keep]
                rc.sort()  # ascending cell id = the tie rule's order
                exact = _sq_dists_matrix(V[r : r + 1], C[rc])[0]
                order = np.lexsort((rc, exact))[:kk]
                picked.append([int(c) for c in rc[order]])
            idxs = np.nonzero(mask)[0]
            for i, cells_i in zip(idxs, picked):
                out[i] = cells_i
        return pd.Series(out, dtype="object")

    return probes


def _fixed_point_partials(centroids: list[list[float]]):
    """One-pass Arrow kernel for a Lloyd iteration (r10): per input
    batch, assign every vector its nearest cell (the _assign_cells
    shortlist-then-exact-decide kernel — identical fold order and tie
    rule to the HOF form, shared with _nearest_cell_arrow) and emit PARTIAL
    fixed-point sums (cell, pos, s, n). Integer partials are exact and
    associative, so summing them downstream reproduces the previous
    posexplode → groupBy-sum result bit for bit, while the shuffle
    carries ~cells × dim rows per batch instead of rows × dim exploded
    rows (sf1: 32k vs 1.28M per iteration).

    Rounding replays Spark's round() (HALF_UP on the double) EXACTLY:
    for |t| < 2^52, frac = |t| − floor(|t|) is an exact IEEE subtraction,
    so ``floor(|t|) + (frac ≥ 0.5)`` is true binary half-away-from-zero
    — no ``t + 0.5`` trick (which mis-rounds values one ulp below a .5
    boundary), and Java's BigDecimal HALF_UP agrees with the binary
    comparison because shortest-repr decimal strings round-trip.
    |x·SCALE| here is ≤ ~2^25 (float32-ranged embeddings), far inside
    both the 2^52 exactness bound and int64."""
    from pyspark.sql.functions import pandas_udf  # noqa: F401 — doc symmetry

    C = np.array([[float(x) for x in c] for c in centroids], dtype=np.float64)

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL vectors contribute nothing — exactly the old
            # posexplode-of-NULL behavior (zero exploded rows)
            V, mask = _vectors_and_mask(pdf.iloc[:, 0])
            if not V.shape[0]:
                continue
            cells = _assign_cells(V, C)
            T = V * SCALE
            A = np.abs(T)
            R = np.floor(A)
            R = R + ((A - R) >= 0.5)  # exact HALF_UP on the binary value
            R = np.where(T < 0, -R, R).astype(np.int64)
            out = {"cell": [], "pos": [], "s": [], "n": []}
            dim = V.shape[1]
            for cell in np.unique(cells):
                sel = cells == cell  # per-cell selector (distinct from the
                # NULL-validity mask above — r10 review flagged the shadow)
                out["cell"].extend([int(cell)] * dim)
                out["pos"].extend(range(dim))
                out["s"].extend(R[sel].sum(axis=0).tolist())
                out["n"].extend([int(sel.sum())] * dim)
            yield pd.DataFrame(out)

    return partials


def train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means: seeded from the ``n_cells`` lowest
    ids, refined with exact fixed-point mean updates (order-independent).

    The per-iteration assignment scan (n_cells × dim folds per row) is
    the expensive part, so the corpus is fanned out first: a single-file
    parquet scan otherwise runs EVERY iteration on one core — measured
    257 s vs ~16 s for 2 iterations over 20k × 64-dim vectors at sf1.
    fan_out is a no-op when the scan is already parallel, and training
    is partition-order independent (fixed-point sums; pinned by test),
    so the result is unchanged.

    r10: each iteration is ONE Arrow pass (_fixed_point_partials —
    assignment + per-batch integer partial sums fused in numpy, exact
    HALF_UP rounding), replacing the interpreted-HOF assignment +
    posexplode + row-level groupBy of earlier rounds. The collected
    (cell, pos, s, n) totals are bit-identical (integer partials are
    associative; the assignment kernel and rounding are replayed
    exactly — equality pinned by the ann_topk_ivf / embedding_suite
    oracles, which retrain from raw parquet in SQL)."""
    from etl_school_spark.tables import fan_out

    corpus = fan_out(corpus)
    seeds = (
        corpus.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    # a corpus smaller than n_cells seeds fewer centroids — clamp rather
    # than index past the seed list (registered queries never hit this;
    # semantic_dedup callers with tiny frames do). Downstream is
    # consistent: every consumer iterates the returned list.
    n_cells = len(centroids)
    dim = len(centroids[0])
    vecs = corpus.select(F.col(vec_col))
    for _ in range(iters):
        parts = vecs.mapInPandas(
            _fixed_point_partials(centroids),
            schema="cell int, pos int, s long, n long",
        )
        sums = (
            parts.groupBy("cell", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in sums:
            # float(s)/float(n)/SCALE is the exact IEEE sequence the oracle
            # replays as CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1000000.0
            new.setdefault(r.cell, [0.0] * dim)[r.pos] = float(r.s) / float(r.n) / SCALE
        centroids = [new.get(c, centroids[c]) for c in range(n_cells)]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF probing.

    Same output contract as brute_force_topk / lsh_topk:
    (query_id, neighbor_id, score, rank).

    The probe-scoring stage is the FAISS IVF-Flat physical form: cogroup
    the probing queries and the cell members per cell, one BLAS product
    per cell shortlists, exact rescore emits (the gemm.py pattern) —
    exact sequential-fold scores, so the ``ann_topk_ivf`` oracle checks
    them bit-for-bit. r9: the cell's corpus side is block-tiled in
    CELL_BLOCK slices (gemm.blocked_shortlist_scores — the same bound
    as lsh_topk buckets), so per-task numpy allocation is
    O(|probing queries| × CELL_BLOCK) even when a cell outgrows the
    n_cells ≈ √corpus sizing rule; the Arrow-deserialized group frame
    itself remains cell-sized (inherent to cogroup applyInPandas).

    Broadcast-lifecycle note: unlike gemm_topk/cosine_pairs_dense, the
    trained centroids ship as Catalyst LITERALS (n_cells × dim constant
    arrays folded into the plan), not ``sc.broadcast`` blocks — there
    are no broadcast handles to destroy, and
    ``gemm.destroy_broadcasts(ivf_frame)`` is a documented no-op
    returning 0 (pinned by test)."""
    from etl_school_spark.tables import fan_out

    # the corpus-side assignment scan below is as fold-heavy as training's
    # (train_centroids docstring); same no-op-when-parallel guard
    corpus = fan_out(corpus)
    centroids = train_centroids(corpus, n_cells, iters, id_col, vec_col)

    # norms AND the double-cast arrays are computed ONCE per vector on
    # each side, BEFORE the cogroup — a query meets ~nprobe/n_cells of
    # the corpus, and evaluating l2_norm / as_double per candidate (the
    # plain cosine() form) multiplied the fold work (measured the
    # dominant cost at sf1: 6 M candidate rows). dot/(nq·nc) is
    # value-identical to cosine() — same fold order — so the oracle
    # needs no change.
    cvd = as_double(F.col(vec_col))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        cvd.alias("cv"),
        l2_norm(cvd).alias("_nc"),
        _nearest_cell_arrow(centroids)(F.col(vec_col)).alias("cell"),
    )
    # nprobe nearest cells per query, selected INSIDE the Arrow kernel
    # (r11, _probe_cells_arrow): the previous shape posexploded all
    # n_cells distances and ranked them through a Window shuffle —
    # n_cells rows per query through an exchange, the query-side
    # n_cells-axis term. The kernel's shortlist + exact-fold decide
    # selects the identical probe SET (same fold values, same
    # (dist, cell) tie rule — differential-pinned), and downstream
    # consumes only the set, so the query output is unchanged.
    pc = _probe_cells_arrow(centroids, nprobe)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        cvd.alias("qv"),
        l2_norm(cvd).alias("_nq"),
    ).select(
        "query_id", "qv", "_nq", F.explode(pc(F.col("qv"))).alias("cell")
    )

    scored = _cogroup_gemm_scores(probes, c, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_raw"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("score_raw").alias("score"), "rank")
    )


def _cogroup_gemm_scores(probes: DataFrame, c: DataFrame, k: int) -> DataFrame:
    """Per-cell BLAS scoring of probing queries against cell members:
    cogroup on cell, block-tiled gemm over normalized copies to
    SHORTLIST (per-block local top-(k+1) per query with a
    reassociation-safety margin — gemm.blocked_shortlist_scores, shared
    with knn.lsh_topk's bucket scorer), then emit the exact score — the
    JVM-computed norms ride in (_nq/_nc) and the dot is a strict
    left-to-right column fold (gemm._seq_fold_sum), so emitted doubles
    are bit-identical to the oracle's declarative fold.
    Self-matches survive to the SQL-side filter, exactly as in
    gemm.gemm_topk."""
    import pandas as pd  # noqa: F401 — applyInPandas dependency

    from etl_school_spark.similarity.gemm import blocked_shortlist_scores

    local_k = k + 1
    block = CELL_BLOCK

    def score(qdf, cdf):
        return blocked_shortlist_scores(qdf, cdf, local_k, block)

    out = (
        probes.groupBy("cell")
        .cogroup(c.groupBy("cell"))
        .applyInPandas(score, schema="query_id long, neighbor_id long, score_raw double")
    )
    return out.filter(F.col("query_id") != F.col("neighbor_id"))
