"""Connected components over near-duplicate pairs → duplicate CLUSTERS.

Pair detection (minhash/ngram/simhash) yields edges; dedup needs the
transitive closure: if A≈B and B≈C, all three are one group with one
canonical representative. This is min-label propagation (Pregel-style)
expressed as DataFrame joins:

    label(n) ← min(label(n), min over neighbors' label)

iterated to fixpoint. Each round is one join + one aggregate (both
shuffle on the node key); rounds needed = graph diameter, and near-dup
graphs are shallow (small cliques/chains), so a handful of rounds
suffices. In the distributed loop the driver only evaluates a scalar
convergence count per round; with ``collect_cap`` set (r9) an edge set
under the cap is instead collected once and labeled by a driver-side
union-find — a measured dispatch with an explicit memory bound, not an
unbounded collect (see the connected_components docstring).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def operator_leaf(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage — the ONE place the engine chooses between
    ``localCheckpoint`` and a reliable ``checkpoint`` and registers the
    checkpoint directory. Operator working leaves (shingle sets,
    signature scans, quotient reps, incremental stage boundaries) and
    the components/quotient truncation points all come through here.

    ``spark.etl_school.checkpoint_dir`` set on the session → reliable
    ``Dataset.checkpoint`` into that directory (point it at
    fault-tolerant storage: on a real cluster executor loss invalidates
    a localCheckpoint'ed lineage mid-query). The directory is registered
    here, before the checkpoint, so no caller can reach a checkpoint
    before it is set — but only when the context's current checkpoint
    dir is not already under it: every ``setCheckpointDir`` creates a
    fresh UUID subdirectory, so registering per call scattered one run's
    files over one subdirectory per truncation. Unset → the cheaper
    localCheckpoint. The registered query entry points take no
    checkpoint argument; the conf is their durable mode.

    Storage note: reliable-checkpoint FILES outlive ``unpersist`` —
    ``_release_plan_blocks``/``release_batch_checkpoints`` stay correct
    (they free block-manager storage; on reliable checkpoints they are
    a no-op) and file cleanup belongs to the checkpoint-dir lifecycle
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` or the job's
    own sweep)."""
    d = df.sparkSession.conf.get("spark.etl_school.checkpoint_dir", None)
    if d:
        # compared as qualified Hadoop paths, the form the context stores
        # (<qualified d>/<uuid>)
        sc = df.sparkSession.sparkContext
        fs_path = sc._jvm.org.apache.hadoop.fs.Path
        want = fs_path(d)
        want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
        current = sc.getCheckpointDir()
        if current is None or not fs_path(current).getParent().equals(want):
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _release_plan_blocks(df: DataFrame) -> None:
    """Free the storage blocks behind a localCheckpoint'ed frame.

    Its plan is a LogicalRDD over a persisted internal RDD that
    Dataset.unpersist cannot reach (checkpointed RDDs are not in the
    cache manager), so without this every superseded checkpoint's blocks
    would accumulate for the job's lifetime. Reaches the RDD through the
    analyzed plan (public Spark source, stable since 2.x); correctness
    never depends on the release succeeding, so failures are swallowed.
    Only called on frames whose data is no longer reachable from any
    live lineage (a NEWER truncation point has already materialized)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            # blocking: the release is rare (one per 3 rounds) and a
            # synchronous removal keeps storage accounting deterministic
            # (tests assert the cached-RDD census right after the run)
            plan.rdd().unpersist(True)
    except Exception:
        pass


def _collected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Driver-side union-find over an ALREADY-MATERIALIZED edge leaf —
    the collect_cap fast path of connected_components. Caller has
    verified the edge count is under the cap. Returns the same
    (node, component = min reachable id) contract, or None when an
    endpoint is NULL (exotic input — keep the distributed loop's legacy
    null semantics rather than redefining them here)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.select(src, dst).collect():
        a, b = row[0], row[1]
        if a is None or b is None:
            return None
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN root: the root of a set is always its minimum
            # member (induction over unions), so find(n) IS the
            # component's canonical label — identical to the loop's
            # min-propagation fixpoint
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    ntype = edges.schema[src].dataType
    out_schema = StructType(
        [StructField("node", ntype), StructField("component", ntype)]
    )
    labels = [(x, find(x)) for x in list(parent)]
    return edges.sparkSession.createDataFrame(labels, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 15,
    collect_cap: int | None = None,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (node, component) with component = min node id reachable —
    a deterministic canonical label. Nodes appearing in no edge are not
    emitted (callers union singletons if needed).

    Every truncation point goes through ``operator_leaf``: reliable
    checkpoints when the session sets ``spark.etl_school.checkpoint_dir``
    (the production setting for long-lived jobs, where executor loss
    must not lose the truncated lineage), otherwise localCheckpoint,
    whose superseded block sets ARE released explicitly each time a
    newer truncation materializes (see _release_plan_blocks).

    ``collect_cap`` (r9): when set and the edge count is ≤ it, skip the
    iterative loop entirely — collect the edges and label them with a
    driver-side union-find (bit-identical labels: both forms compute the
    unique min-reachable-id fixpoint; pinned by the hypothesis
    differential and an equality test). Near-dup edge sets are usually
    MUCH smaller than the corpora they come from (true duplicates are
    the minority), so at every measured scale the label-propagation
    loop's ~2 jobs/round × diameter rounds cost more than one collect of
    the (already-materialized) edge leaf. The probe is one count on that
    leaf; over the cap — mass-duplicated corpora at 100 TB — the
    distributed loop proceeds unchanged. Cap sizing: edges are two ids,
    ~100-150 B/row collected; the 1M cap at call sites is ~100-150 MB of
    transient driver heap. Measured (dedup_clusters end to end, medians
    of 3, noop sink): sf0.1 4.88 → 3.28 s (×0.67, 256 edges); sf1
    23.5 → 22.0 s (×0.94, 250.6k edges — the PPJoin pair pipeline
    dominates there).
    """
    # edges feeds und twice (forward + swapped) and EVERY round's plan —
    # truncate it, don't just persist it (r8, measured): persist caches
    # the DATA but every cached-frame reference still embeds the full
    # upstream pair-pipeline plan (PPJoin / minhash trees), so each
    # round's plan generation and optimization re-paid it — components
    # over an unmaterialized sf0.01 pair pipeline ran 4.4 s vs 1.2 s
    # over a truncated one. r15 (guide §5, VERDICT item 2 — serial
    # blocking driver jobs): the truncation is LAZY when a collect_cap
    # probe follows — the probe's count() materializes the checkpoint in
    # the same job, so dispatch pays one blocking job instead of two
    # (eager checkpoint count + probe count). Without a probe the eager
    # form stands: the loop's first action needs the data anyway.
    edges = operator_leaf(edges, collect_cap is None)
    if collect_cap is not None and edges.count() <= collect_cap:
        small = _collected_components(edges, src, dst)
        if small is not None:
            _release_plan_blocks(edges)
            return small
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    # seed with min(node, min neighbor) — one propagation step fused into
    # initialization, saving a full round on shallow graphs
    labels = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("_min_nb"))
        .select("node", F.least("node", "_min_nb").alias("component"))
        .persist()
    )
    # Integral labels only ever DECREASE under min-propagation, so the
    # total label sum strictly decreases until fixpoint — convergence
    # needs one scalar aggregate per round, not a join against the
    # previous labels. Non-integral node ids (e.g. string doc hashes)
    # keep the join-based changed-count check, which is type-generic.
    integral = dict(labels.dtypes)["component"] in {
        "tinyint", "smallint", "int", "bigint",
    }

    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels) if integral else None
    changed = -1
    prev_ckpt: DataFrame | None = None
    last_was_ckpt = False
    for it in range(max_iterations):
        msgs = (
            und.join(labels, und.a == labels.node)
            .select(F.col("b").alias("node"), F.col("component"))
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # persist caches DATA but keeps the LOGICAL plan, which nests one
        # join+union level per round — unbounded lineage that makes
        # planning (and even the per-action plan-string generation) grow
        # with round count until it OOMs the driver on high-diameter
        # graphs (observed: heap exhaustion inside generateTreeString on
        # a hypothesis-generated long-chain graph). Truncate every third
        # round (operator_leaf — localCheckpoint, or reliable in durable
        # mode): lineage depth stays ≤ 3 for ANY round
        # count — the required shape for iterative DataFrame algorithms —
        # while fast-converging graphs (near-dup cliques, diameter ≤ 3)
        # keep the cheaper columnar cache.
        is_ckpt = it % 3 == 2
        if is_ckpt:
            new_labels = operator_leaf(new_labels, False)
        else:
            new_labels = new_labels.persist()
        last_was_ckpt = is_ckpt
        if integral:
            new_sum = _label_sum(new_labels)
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
        labels.unpersist()
        labels = new_labels
        if is_ckpt:
            # the new truncation point is materialized (the convergence
            # action above ran), so the previous one's block set is no
            # longer reachable from any live lineage — release it
            if prev_ckpt is not None:
                _release_plan_blocks(prev_ckpt)
            prev_ckpt = new_labels
        if changed == 0:
            break
    # Make the RETURNED frame a self-contained leaf before releasing the
    # loop's working state: once labels is a materialized truncation
    # point, nothing the caller can run re-reads und or the edges leaf,
    # so their blocks are safe to free here instead of leaking for the
    # session's lifetime (the census test pins this). If the loop ended
    # on a checkpoint round the convergence action already materialized
    # a leaf and there is nothing to do.
    if not last_was_ckpt:
        final = operator_leaf(labels, True)
        labels.unpersist()
        if prev_ckpt is not None:
            _release_plan_blocks(prev_ckpt)
        labels = final
    und.unpersist()
    _release_plan_blocks(edges)
    if changed != 0:
        # graph diameter exceeded the round budget: labels are still a
        # valid partition refinement but long chains may be SPLIT into
        # multiple components — silent wrong answers are worse than noise
        warnings.warn(
            f"connected_components did not converge in {max_iterations} "
            "iterations (labels still changing); components of "
            "long duplicate chains may be split — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def add_singletons(
    labels: DataFrame, universe: DataFrame, id_col: str = "doc"
) -> DataFrame:
    """Union (node, component=node) rows for every in-contract doc that
    appears in no component (r12, VERDICT item 6).

    The *_dup_groups operators emit only docs with at least one
    duplicate (the connected_components convention) — every pipeline
    that wants a full keep/drop table then re-derives "union the
    singletons" by hand, a repeated foot-gun. This is that union, once:
    ``universe`` is the caller's in-contract doc frame (for the set
    quotients: nonempty shingle sets; for simhash: every signed doc),
    and the anti-join moves only ids. The result keeps the labels
    contract: component = min reachable id, which for a singleton is
    itself.
    """
    singles = (
        universe.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return labels.unionByName(singles)


def quotient_components(
    rep_pairs: DataFrame,
    stars: DataFrame,
    reps: DataFrame,
    collect_cap: int | None = None,
) -> DataFrame:
    """Components of (rep_pairs ∪ stars) WITHOUT pushing the star edges
    through the iterative loop (r12).

    The *_dup_groups quotient operators emit two edge kinds: rep_pairs
    (between distinct-set/sig representatives — the verified near-dup
    graph over the quotient) and stars (each clique's min-doc rep →
    member). A star member appears in exactly ONE edge, to its rep, and
    the rep is its clique's MINIMUM doc id — so the member's
    min-reachable label is exactly its rep's label in the rep graph
    (or the rep itself when the rep pairs with nothing). Running the
    full union through connected_components therefore wastes the loop:
    label propagation costs 2 jobs × diameter ROUNDS over an edge set
    dominated by stars (a 10M-copy clique is 10M star edges), and the
    ``collect_cap`` driver fast path disengages exactly on the
    copy-heavy corpora the quotient exists for.

    Here instead: connected_components runs over rep_pairs ONLY (the
    loop's input shrinks by the corpus duplication factor; the capped
    fast path re-engages whenever the DISTINCT near-dup graph is small,
    however many copies exist), then one join labels the members:

    - rep in the rep graph  → member inherits the rep's component;
    - rep with members but no rep pair → (rep, rep) and members get
      the rep id (that clique is its own component).

    Exactness: component = min reachable id. Members connect only to
    their rep, every clique's rep is its min member, and rep_pairs
    components carry the min over connected reps — so the min over a
    merged set of cliques is the min over their reps, which is the
    rep-graph label. Pinned by the pairs-vs-groups differentials and
    fuzz families 14/15.

    Scale shape: the member join's build side (rep labels) is the
    OUTPUT of connected_components — a truncated leaf — and the probe
    side is a bare exchange, so a hot rep key is AQE-skew-splittable
    (the agg-fused-build limitation in SCALING.md r12 does not apply);
    the self-rep distinct collapses map-side.

    Dispatch: with ``collect_cap`` set, a star count within the cap
    takes the pre-deferral union path (one bounded driver union-find,
    zero extra stages — the tiny-corpus winner); only star counts past
    the cap defer. ``collect_cap=None`` always defers (the loop-forced
    regime measured ×0.85 even organically).

    The star count (r13, VERDICT item 2) comes from ``reps``, the
    caller's truncated quotient leaf with one row per clique and its
    member count in ``_csize``: every keyed doc is either its clique's
    min (a rep) or a star member, so |stars| = Σ ``_csize`` − |reps|,
    ONE aggregate over a leaf the operator already materializes for
    reuse — no eager materialization of the join-derived stars frame
    (the r12 probe's ×1.19 capped organic residual, SCALING.md r12).
    The identity assumes doc ids are unique (the documents-table
    contract); duplicate ids only OVERESTIMATE the count — biasing
    dispatch toward the deferred (safe) branch, where
    connected_components re-probes the real edge count before any
    collect. The count is a performance dispatch only — both branches
    are bit-identical — so an inexact count can never change labels,
    only which plan computes them (r14, ADVICE).

    Returned frame is a self-contained leaf on every branch (r13):
    the deferred path eagerly truncates its output union, which is what
    lets this function release its working leaves (``sj``, the rep
    labels) instead of accumulating
    corpus-scale block sets per call in a long-lived session (r12
    ADVICE). The output leaf itself follows the connected_components
    convention: it belongs to the caller.
    """
    # Measured dispatch (r12): the deferral pays two extra distributed
    # stages (member join + self-rep distinct), which at TINY star
    # counts costs more than it saves — only copy-heavy corpora (the
    # regime the deferral exists for) defer.
    if collect_cap is not None:
        row = reps.agg(
            F.sum("_csize").alias("k"), F.count(F.lit(1)).alias("r")
        ).collect()[0]
        star_count = int(row.k or 0) - int(row.r)
        if star_count <= collect_cap:
            return connected_components(
                rep_pairs.unionByName(stars), collect_cap=collect_cap
            )
    rep_labels = connected_components(rep_pairs, collect_cap=collect_cap)
    rl = rep_labels.select(
        F.col("node").alias("id_a"), F.col("component").alias("_c")
    )
    # one materialized pass over the star join feeds both consumers
    # (members + self-labeled reps) — without it each re-runs the
    # corpus-proportional stars plan; the leaf is three ids per row.
    sj = operator_leaf(stars.join(rl, "id_a", "left"), False)
    star_members = sj.select(
        F.col("id_b").alias("node"),
        F.coalesce(F.col("_c"), F.col("id_a")).alias("component"),
    )
    # distinct collapses each unlabeled clique's members map-side
    rep_self = (
        sj.filter(F.col("_c").isNull())
        .select(F.col("id_a").alias("node"), F.col("id_a").alias("component"))
        .distinct()
    )
    out = operator_leaf(
        rep_labels.unionByName(star_members).unionByName(rep_self), True
    )
    # the eager output truncation above materialized sj (and everything
    # beneath it), so the working leaves are unreachable from the
    # returned plan — release them (r12 ADVICE: these accumulated
    # O(star-edges) blocks per *_dup_groups call for the session's life)
    _release_plan_blocks(sj)
    _release_plan_blocks(rep_labels)
    return out
