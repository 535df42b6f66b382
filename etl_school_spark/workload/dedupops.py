"""Near-duplicate detection workload over the documents table.

- ngram_jaccard: exact inverted-index set-similarity join, oracle-checked
  against a brute-force DuckDB pair scan (feasible at oracle scale).
- minhash_lsh: probabilistic scale path. Since r3 the signature hash is
  md5-derived (dedup/minhash.py), so the ENTIRE pipeline — signatures,
  banding, candidate generation, exact verify — is reproduced in the
  DuckDB oracle below and hash-checked by the driver; recall against the
  exact join is additionally asserted in tests/test_dedup.py.
- simhash: pigeonhole-blocked hamming near-dup. The md5-bit signature
  (functions/text.py:simhash64) is reproduced in the oracle, which
  deliberately skips the blocking and brute-forces all pairs — a green
  hash therefore also re-proves the pigeonhole blocking loses no pair.

r11: each family is a two-branch suite — `pairs` (contract unchanged) +
`groups` (the *_dup_groups components contract, the library's scale path
for true-duplicate hot buckets). The oracle derives `groups` from the
SAME materialized pair CTE by transitive closure, so a green hash also
re-proves the quotient collapse (signature / shingle-set equality)
preserves components exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_school_spark.dedup.cluster import operator_leaf
from etl_school_spark.dedup.minhash import minhash_dup_groups, minhash_lsh_pairs
from etl_school_spark.dedup.ngram import ngram_dup_groups, ngram_jaccard_pairs
from etl_school_spark.dedup.simhash import simhash_dup_groups, simhash_near_pairs
from etl_school_spark.functions.text import STOPWORDS, WS_CLASS
from etl_school_spark.tables import fan_out, load_table
from etl_school_spark.workload._suite import (
    sorted_single,
    tag_branch,
    union_suite,
    unordered_output,
)

# DuckDB tokenizer twin of functions.text.tokens: the same explicit
# whitespace class as the Spark side (WS_CLASS), so shingle tokenization
# agrees BY CONSTRUCTION — not by absence of tabs/multi-spaces in the
# fixture (the r6 unification, extended to the dedup oracles).
_TOK = f"regexp_split_to_array(trim(text), '{WS_CLASS}')"

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Brute-force exact word-trigram Jaccard in DuckDB (O(n²) — oracle scale only).
_NGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOK} w FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w)-2)])
              ELSE [] END AS s
  FROM t
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.s, b.s))*1.0
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.s, b.s))*1.0
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# r11: the three near-dup families are registered as two-branch SUITES —
# `pairs` (the original contract, rows unchanged) + `groups` (the
# components contract of the *_dup_groups quotient operators), so the
# quotient algorithms are driver-hashed without a new registry slot.
# The oracle computes the pair graph ONCE (materialized CTE) and derives
# components by transitive closure over the FULL graph — components of
# the quotient graph provably equal components of the full pair graph
# (operator docstrings), so a green hash re-proves the quotient collapse
# loses no membership and invents none.
# --------------------------------------------------------------------------


def _groups_labels_ctes(pairs_sql: str) -> str:
    """Closure CTE chain over a materialized ``pairs`` CTE built from
    ``pairs_sql`` (the _CLUSTER_ORACLE pattern: undirected edges →
    transitive reach → component = min reachable id)."""
    return f"""pairs AS MATERIALIZED (
  {pairs_sql}
),
und AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(s, t) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.t = u.a
),
labels AS (
  SELECT s AS node, least(s, min(t)) AS component FROM reach GROUP BY s
)"""


def _groups_oracle(pairs_sql: str) -> str:
    """Standalone (node, component) oracle for the component parity test."""
    return f"""
WITH RECURSIVE {_groups_labels_ctes(pairs_sql)}
SELECT CAST(node AS BIGINT) AS node, CAST(component AS BIGINT) AS component
FROM labels
ORDER BY node
"""


def _dedup_suite_oracle(pairs_sql: str, metric: str) -> str:
    """Two-branch suite oracle: ``pairs`` rows verbatim + ``groups``
    labels, every slot explicitly cast on both branches (the suite
    cross-engine alignment rule — _suite.py module docstring)."""
    mtyp = "DOUBLE" if metric == "jaccard" else "BIGINT"
    return f"""
WITH RECURSIVE {_groups_labels_ctes(pairs_sql)}
SELECT 'pairs' AS which,
       CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST({metric} AS {mtyp}) AS {metric},
       CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS component
FROM pairs
UNION ALL
SELECT 'groups',
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS {mtyp}),
       CAST(node AS BIGINT), CAST(component AS BIGINT)
FROM labels
"""


# suite frames: the pair contract's columns + the components contract's
_NGRAM_SCHEMA = {
    "id_a": "long", "id_b": "long", "jaccard": "double",
    "node": "long", "component": "long",
}
_SIMHASH_SCHEMA = {
    "id_a": "long", "id_b": "long", "hamming_dist": "long",
    "node": "long", "component": "long",
}

# per-component exact checks (tests/test_entry.py::test_component_oracle_parity)
COMPONENTS = {}
COMPONENT_ORACLES = {}

_NGRAM_PAIRS_SQL = _NGRAM_ORACLE.replace("ORDER BY id_a, id_b", "")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out(load_table(spark, sf_dir, "documents"))


def _ngram_pairs_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_single(
        ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8, n=3), "id_a", "id_b"
    )


def _ngram_groups_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_single(
        ngram_dup_groups(_docs(spark, sf_dir), threshold=0.8, n=3), "node"
    )


COMPONENTS["ngram_pairs"] = _ngram_pairs_component
COMPONENT_ORACLES["ngram_pairs"] = _NGRAM_ORACLE
COMPONENTS["ngram_groups"] = _ngram_groups_component
COMPONENT_ORACLES["ngram_groups"] = _groups_oracle(_NGRAM_PAIRS_SQL)


@_q("dedup_ngram_jaccard", _dedup_suite_oracle(_NGRAM_PAIRS_SQL, "jaccard"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.dedup.cluster import connected_components

    docs = _docs(spark, sf_dir)
    # the groups branch derives components from the SAME materialized
    # pair frame the pairs branch emits (one PPJoin, not two — sf1
    # in-suite quotient re-ran the join for +9.9 s); the quotient
    # operator ngram_dup_groups itself is driver-hashed through
    # dedup_clusters' label source and the ngram_groups parity component
    pairs = operator_leaf(ngram_jaccard_pairs(docs, threshold=0.8, n=3))
    branches = [
        tag_branch(
            pairs, "pairs", _NGRAM_SCHEMA,
            id_a="id_a", id_b="id_b", jaccard="jaccard",
        ),
        tag_branch(
            connected_components(pairs, collect_cap=1_000_000), "groups",
            _NGRAM_SCHEMA, node="node", component="component",
        ),
    ]
    return unordered_output(union_suite(branches))


def _sig_cte_block(src: str = "documents") -> str:
    """Shared CTE text (t/sh/hashed/signed/banded): the MinHash replay —
    same shingles as _NGRAM_ORACLE, same md5-derived base hash + affine
    permutations (minhash.perm_constants — the (a_i, b_i) literals are
    embedded), same 32×4 banding. Exact int64 arithmetic in both engines.
    Used by the one-shot LSH oracle AND the incremental-index oracle
    (``src`` names the doc frame — ``documents`` for the one-shot replay,
    the two-generation ``corpus`` CTE for the incremental one)."""
    from etl_school_spark.dedup.minhash import MERSENNE_31, perm_constants

    sig_terms = ",\n          ".join(
        f"list_min([({a} * hh + {b}) % {MERSENNE_31} for hh in hs])"
        for a, b in perm_constants(128)
    )
    return f"""t AS (SELECT doc_id, {_TOK} w FROM {src}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w)-2)])
              ELSE [] END AS s
  FROM t
),
hashed AS (
  SELECT doc_id, s, len(s) AS set_size,
         [CAST(CAST('0x' || substr(md5(g), 1, 15) AS UBIGINT) AS BIGINT) % {MERSENNE_31} for g in s] AS hs
  FROM sh WHERE len(s) > 0
),
signed AS (
  SELECT doc_id, s, set_size,
         [{sig_terms}] AS sig
  FROM hashed
),
banded AS (
  SELECT doc_id, b AS band_idx, md5(array_to_string(sig[(b*4+1):(b*4+4)], ',')) AS band_hash
  FROM signed, unnest(generate_series(0, 31)) AS u(b)
)"""


def _minhash_oracle() -> str:
    """One-shot MinHash+LSH replica over _sig_cte_block, same exact
    Jaccard verify as the Spark plan."""
    return f"""
WITH {_sig_cte_block()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.s, sb.s))*1.0
         / (sa.set_size + sb.set_size - len(list_intersect(sa.s, sb.s))) AS jaccard
FROM cand c JOIN signed sa ON c.id_a = sa.doc_id JOIN signed sb ON c.id_b = sb.doc_id
WHERE len(list_intersect(sa.s, sb.s))*1.0
        / (sa.set_size + sb.set_size - len(list_intersect(sa.s, sb.s))) >= 0.8
ORDER BY id_a, id_b
"""


_MINHASH_ORACLE = _minhash_oracle()


def _simhash_oracle() -> str:
    """Brute-force all-pairs SimHash oracle. The 64 signature bits replicate
    functions.text.simhash64 (md5 hex-digit membership); skipping the
    chunk blocking means a green hash also re-proves pigeonhole
    completeness of the registered blocked plan."""
    from etl_school_spark.functions.text import HEX_BIT_SETS

    bit_exprs = []
    for k in range(64):
        members = ", ".join(f"'{c}'" for c in HEX_BIT_SETS[k % 4])
        bit_exprs.append(
            f"CASE WHEN list_sum([CASE WHEN substr(h, {k // 4 + 1}, 1) IN ({members})"
            " THEN 1 ELSE -1 END for h in hs]) > 0 THEN 1 ELSE 0 END"
        )
    sig = "[" + ",\n         ".join(bit_exprs) + "]"
    return f"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS toks FROM documents
),
hmap AS (SELECT doc_id, [substr(md5(tk), 1, 16) for tk in toks] AS hs FROM t),
s AS (SELECT doc_id, {sig} AS sig FROM hmap),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         list_sum(list_transform(list_zip(a.sig, b.sig), x -> CASE WHEN x[1] = x[2] THEN 0 ELSE 1 END)) AS hd
  FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hd AS BIGINT) AS hamming_dist FROM pairs WHERE hd <= 3
ORDER BY id_a, id_b
"""


_MINHASH_PAIRS_SQL = _MINHASH_ORACLE.replace("ORDER BY id_a, id_b", "")


def _minhash_pairs_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_single(
        minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.8, n=3), "id_a", "id_b"
    )


def _minhash_groups_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_single(
        minhash_dup_groups(_docs(spark, sf_dir), threshold=0.8, n=3), "node"
    )


COMPONENTS["minhash_pairs"] = _minhash_pairs_component
COMPONENT_ORACLES["minhash_pairs"] = _MINHASH_ORACLE
COMPONENTS["minhash_groups"] = _minhash_groups_component
COMPONENT_ORACLES["minhash_groups"] = _groups_oracle(_MINHASH_PAIRS_SQL)


@_q("dedup_minhash_lsh", _dedup_suite_oracle(_MINHASH_PAIRS_SQL, "jaccard"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.dedup.ngram import shingle_sets

    from pyspark.sql import functions as F

    from etl_school_spark.dedup.minhash import minhash_signatures

    docs = _docs(spark, sf_dir)
    # one shingle scan AND one 128-perm signature pass feed both
    # contracts (sets=/signed= injection, r11)
    sets = operator_leaf(shingle_sets(docs, "doc_id", "text", 3))
    signed = operator_leaf(
        minhash_signatures(sets).filter(F.col("sig").isNotNull())
    )
    branches = [
        tag_branch(
            minhash_lsh_pairs(docs, threshold=0.8, n=3, sets=sets, signed=signed),
            "pairs",
            _NGRAM_SCHEMA, id_a="id_a", id_b="id_b", jaccard="jaccard",
        ),
        tag_branch(
            minhash_dup_groups(docs, threshold=0.8, n=3, sets=sets, signed=signed),
            "groups",
            _NGRAM_SCHEMA, node="node", component="component",
        ),
    ]
    return unordered_output(union_suite(branches))


_SIMHASH_PAIRS_SQL = _simhash_oracle().replace("ORDER BY id_a, id_b", "")


def _simhash_pairs_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    pairs = simhash_near_pairs(
        _docs(spark, sf_dir), max_hamming=3, chunks=4, refine_threshold="auto"
    )
    return sorted_single(
        pairs.withColumn("hamming_dist", F.col("hamming_dist").cast("long")),
        "id_a", "id_b",
    )


def _simhash_groups_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sorted_single(
        simhash_dup_groups(
            _docs(spark, sf_dir), max_hamming=3, chunks=4, refine_threshold="auto"
        ),
        "node",
    )


COMPONENTS["simhash_pairs"] = _simhash_pairs_component
COMPONENT_ORACLES["simhash_pairs"] = _simhash_oracle()
COMPONENTS["simhash_groups"] = _simhash_groups_component
COMPONENT_ORACLES["simhash_groups"] = _groups_oracle(_SIMHASH_PAIRS_SQL)


@_q("dedup_simhash", _dedup_suite_oracle(_SIMHASH_PAIRS_SQL, "hamming_dist"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # census-driven dispatch (r10): on today's corpora no bucket crosses
    # simhash.HOT_THRESHOLD at sf0.01–0.1 and the sf1 tiling's hot buckets are
    # TRUE duplicates (high verify pass-rate), so the chosen plan is the
    # plain single join at every measured scale — the dispatch exists
    # for the 100× boilerplate corpus where refinement measured ×0.80.
    # Either choice is output-exact (same oracle); the probe is
    # memoized per plan, so warm runs pay nothing.
    from etl_school_spark.dedup.simhash import simhash_signature_rows

    # one signature scan feeds both contracts (sigs= injection, r11)
    sigs = operator_leaf(simhash_signature_rows(docs))
    branches = [
        tag_branch(
            simhash_near_pairs(
                docs, max_hamming=3, chunks=4, refine_threshold="auto", sigs=sigs
            ),
            "pairs", _SIMHASH_SCHEMA,
            id_a="id_a", id_b="id_b", hamming_dist="hamming_dist",
        ),
        tag_branch(
            simhash_dup_groups(
                docs, max_hamming=3, chunks=4, refine_threshold="auto", sigs=sigs
            ),
            "groups", _SIMHASH_SCHEMA,
            node="node", component="component",
        ),
    ]
    return unordered_output(union_suite(branches))


# --------------------------------------------------------------------------
# Duplicate CLUSTERS: connected components over the near-dup pair graph
# (iterative min-label propagation). Oracle: transitive closure by
# recursive CTE, component = min reachable id — exact equivalence of a
# genuinely iterative DataFrame algorithm.
#
# r3: the query also makes the KEEP decision — per component, the
# canonical document is the highest-QUALITY member (quality_score, id
# tiebreak) and every other member is marked for drop. This is the step
# a dedup pipeline actually acts on; min-id alone silently prefers the
# earliest crawl copy regardless of quality.
# --------------------------------------------------------------------------
_SW_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  {_NGRAM_ORACLE.replace("ORDER BY id_a, id_b", "")}
),
und AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(s, t) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.t = u.a
),
labels AS (
  SELECT s AS node, least(s, min(t)) AS component
  FROM reach
  GROUP BY s
),
qt AS (SELECT doc_id, {_TOK} w FROM documents),
qc AS (
  SELECT doc_id,
         len(w)*1.0 AS n_tok,
         len(list_distinct(w))*1.0 / nullif(len(w)*1.0, 0) AS ttr,
         round(len(list_filter(w, x -> x IN ({_SW_LIST})))*1.0 / nullif(len(w), 0), 4) AS sw
  FROM qt
),
q AS (
  SELECT doc_id,
         round((least(n_tok / 50.0, 1.0) + ttr + (1.0 - abs(sw - 0.1))) / 3.0, 4) AS quality
  FROM qc
)
SELECT l.node, l.component, q.quality,
       first_value(l.node) OVER (PARTITION BY l.component
                                 ORDER BY q.quality DESC, l.node) AS canonical,
       l.node = first_value(l.node) OVER (PARTITION BY l.component
                                          ORDER BY q.quality DESC, l.node) AS keep
FROM labels l JOIN q ON l.node = q.doc_id
ORDER BY node
"""


@_q("dedup_clusters", _CLUSTER_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_school_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    # r11: labels come from the shingle-set QUOTIENT (ngram_dup_groups) —
    # provably identical to connected_components(ngram_jaccard_pairs)
    # (differential-pinned; the oracle's recursive closure over the
    # brute-force pair graph stays green), but the PPJoin runs over
    # DISTINCT sets only: sf1 full-query A/B 14.56 → 7.99 s median
    # (tools/ab_clusters_quotient.py in git history at c2869dd, outputs
    # asserted equal). The collect_cap gates the same capped driver-side
    # union-find inside the quotient; a mass-duplicated corpus past the
    # cap takes the distributed loop unchanged.
    labels = ngram_dup_groups(docs, threshold=0.8, n=3, collect_cap=1_000_000)
    # canonical selection: highest-quality member per component (id
    # tiebreak). The join moves only (id, quality) for CLUSTERED docs —
    # at scale that is the near-dup subset, not the corpus.
    q = docs.select(F.col("doc_id").alias("node"), quality_score("text").alias("quality"))
    w = Window.partitionBy("component").orderBy(F.desc("quality"), "node")
    out = (
        labels.join(q, "node")
        .withColumn("canonical", F.first("node").over(w))
        .withColumn("keep", F.col("node") == F.col("canonical"))
    )
    # corpus-proportional output → unordered contract (r11, _suite.py)
    return unordered_output(
        out.select("node", "component", "quality", "canonical", "keep")
    )


# --------------------------------------------------------------------------
# Incremental dedup against a persisted index (dedup/incremental.py) —
# the continual-ingestion acceptance decision, driver-registered.
#
# Two-generation setup, fully replayable in SQL: the index is built from
# the even-id documents (gen-0, "already accepted"); the batch is the
# odd-id documents PLUS planted duplicates sourced from both generations —
#   +1_000_000: verbatim copies of gen-0 docs      → exact-vs-history
#   +2_000_000: gen-0 docs with one appended token → near-dup-vs-history
#   +3_000_000: verbatim copies of batch docs      → within-batch exact
#   +4_000_000: batch docs with one appended token → within-batch near-dup
# so every acceptance path (fingerprint anti-join, history band join +
# Jaccard verify, within-batch canonical + connected components) fires on
# data the oracle can reconstruct. The oracle replays the EXACT
# acceptance order: exact-vs-history, then within-batch exact canonical,
# then near-vs-history on those survivors, then within-batch components
# on THOSE survivors — the stated acceptance-order semantics of
# dedup_batch_against_index, not a one-shot rebuild over the union.
#
# (Replaces the r1 `corpus_after_exact_dedup` slot: its one-shot
# left-semi shape is value-checked inside `dedup_exact_groups` already,
# and the 50-slot registry is full.)
# --------------------------------------------------------------------------
def _incremental_oracle() -> str:
    corpus = """corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, 0 AS gen FROM documents WHERE doc_id % 2 = 0
  UNION ALL SELECT CAST(doc_id AS BIGINT), text, 1 FROM documents WHERE doc_id % 2 = 1
  UNION ALL SELECT CAST(doc_id + 1000000 AS BIGINT), text, 1 FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT CAST(doc_id + 2000000 AS BIGINT), text || ' amendment', 1
    FROM documents WHERE doc_id % 2 = 0 AND doc_id % 14 = 0
  UNION ALL SELECT CAST(doc_id + 3000000 AS BIGINT), text, 1
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 10 = 1
  UNION ALL SELECT CAST(doc_id + 4000000 AS BIGINT), text || ' postscript', 1
    FROM documents WHERE doc_id % 2 = 1 AND doc_id % 14 = 1
)"""
    jac = (
        "len(list_intersect({a}.s, {b}.s))*1.0"
        " / ({a}.set_size + {b}.set_size - len(list_intersect({a}.s, {b}.s)))"
    )
    return f"""
WITH RECURSIVE {corpus},
{_sig_cte_block("corpus")},
fps AS (
  SELECT doc_id, gen,
         md5(lower(regexp_replace(trim(text), '{WS_CLASS}', ' ', 'g'))) AS fp
  FROM corpus
),
-- step 1a: exact vs history (NULL fp never matches, by contract)
s1 AS (
  SELECT b.doc_id, b.fp FROM fps b
  WHERE b.gen = 1
    AND NOT EXISTS (SELECT 1 FROM fps i WHERE i.gen = 0 AND i.fp = b.fp)
),
-- step 1b: within-batch exact — lowest id per fingerprint; NULL-fp docs
-- bypass the canonical pass (each survives as its own document)
s1c AS (
  SELECT doc_id FROM s1
  QUALIFY fp IS NULL OR doc_id = MIN(doc_id) OVER (PARTITION BY fp)
),
-- step 2: near-dup vs history — band collision candidates, exact-Jaccard verify
cand2 AS (
  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
  FROM banded n
  JOIN banded o ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  JOIN fps og ON o.doc_id = og.doc_id AND og.gen = 0
  WHERE n.doc_id IN (SELECT doc_id FROM s1c)
),
m2 AS (
  SELECT DISTINCT c.new_doc
  FROM cand2 c JOIN signed a ON c.new_doc = a.doc_id
               JOIN signed b ON c.old_doc = b.doc_id
  WHERE {jac.format(a="a", b="b")} >= 0.8
),
s2 AS (SELECT doc_id FROM s1c WHERE doc_id NOT IN (SELECT new_doc FROM m2)),
-- step 3: within-batch near-dup on the step-2 survivors — pairs, connected
-- components (transitive closure, min reachable id), min-id canonical
cand3 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM s2)
    AND b.doc_id IN (SELECT doc_id FROM s2)
),
p3 AS (
  SELECT c.id_a, c.id_b
  FROM cand3 c JOIN signed sa ON c.id_a = sa.doc_id
               JOIN signed sb ON c.id_b = sb.doc_id
  WHERE {jac.format(a="sa", b="sb")} >= 0.8
),
und AS (SELECT id_a AS a, id_b AS b FROM p3 UNION SELECT id_b, id_a FROM p3),
reach(s, t) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.t = u.a
),
labels AS (SELECT s AS node, least(s, min(t)) AS component FROM reach GROUP BY s),
accepted AS (
  SELECT doc_id FROM s2
  WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != component)
)
SELECT a.doc_id, f.fp FROM accepted a JOIN fps f USING (doc_id)
ORDER BY a.doc_id
"""


def _planted_batch(docs: DataFrame) -> DataFrame:
    """The gen-1 batch with planted duplicates — the Spark twin of the
    oracle's ``corpus`` CTE gen-1 rows (same id offsets, same appended
    tokens)."""
    from pyspark.sql import functions as F

    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    did = F.col("doc_id")
    gen1 = base.filter(did % 2 == 1)
    exact_hist = base.filter(did % 10 == 0).select(
        (did + 1000000).alias("doc_id"), "text"
    )
    near_hist = base.filter((did % 2 == 0) & (did % 14 == 0)).select(
        (did + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" amendment")).alias("text"),
    )
    exact_batch = base.filter((did % 2 == 1) & (did % 10 == 1)).select(
        (did + 3000000).alias("doc_id"), "text"
    )
    near_batch = base.filter((did % 2 == 1) & (did % 14 == 1)).select(
        (did + 4000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" postscript")).alias("text"),
    )
    return (
        gen1.unionByName(exact_hist)
        .unionByName(near_hist)
        .unionByName(exact_batch)
        .unionByName(near_batch)
    )


@_q("incremental_dedup_accepted", _incremental_oracle())
def incremental_dedup_accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    gen0 = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text").filter(
        F.col("doc_id") % 2 == 0
    )
    batch = _planted_batch(docs)
    # materialized index, per the dedup_batch_against_index contract
    # (production reads it from the persisted index table). r15: the
    # history index and the batch's own index are independent subtrees,
    # built on two driver threads. Both leaves are lazy (operator_leaf's
    # default), so what overlaps is driver-side plan construction —
    # analysis, optimization and physical planning of each index — not
    # Spark jobs: both materialize at the first downstream action. Leaf
    # contents are identical to the serial form (test-pinned by the
    # oracle hash: same rows either way).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hist = pool.submit(lambda: operator_leaf(build_dedup_index(gen0)))
        f_batch = pool.submit(lambda: operator_leaf(build_dedup_index(batch)))
        index, bidx = f_hist.result(), f_batch.result()
    _accepted, rows = dedup_batch_against_index(
        batch, index, threshold=0.8, batch_index=bidx
    )
    # batch-proportional output → unordered contract (r11, _suite.py)
    return unordered_output(rows.select(F.col("doc").alias("doc_id"), "fp"))


# --------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix C / Dolma style): corpus docs
# sharing any word n-gram with a held-out "benchmark" set. Here the
# benchmark is a deterministic slice of documents (doc_id % 50 = 0) so the
# oracle can reproduce it; at scale the benchmark side is tiny and its
# distinct-gram set is broadcast — the corpus is touched once, map-side.
# --------------------------------------------------------------------------
_CONTAMINATION_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(w) - 3)) AS t(i)
  WHERE len(w) >= 4
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
SELECT g.doc_id, COUNT(*) AS overlap_grams
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % 50 != 0
GROUP BY g.doc_id
ORDER BY doc_id
"""


@_q("benchmark_contamination", _CONTAMINATION_ORACLE)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_school_spark.dedup.contamination import contaminated_docs

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    # corpus-proportional output → unordered contract (r11, _suite.py)
    return unordered_output(contaminated_docs(corpus, bench, n=4))
