"""Text-analysis workload over the documents table (training-data ops).

DuckDB oracles mirror the exact token/arithmetic semantics; raw double
divisions are left unrounded where possible (bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_school_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    WS_CLASS,
    distinct_token_count,
    fingerprint,
    lang_id,
    quality_score,
    regex_token_count,
    stopword_share,
    token_count,
    tokens,
)
from etl_school_spark.tables import fan_out, load_table
from etl_school_spark.workload._suite import unordered_output

QUERIES = {}
ORACLES = {}

# Components outside the registry (r14's text_pii_scrub / doc_chunks):
# exact-checked against their oracles at test time (tests/test_entry.py)
# but not in ``queries()``, which stays the driver's 50-query window.
COMPONENTS = {}
COMPONENT_ORACLES = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _c(name: str, oracle: str | None = None):
    def deco(fn):
        COMPONENTS[name] = fn
        if oracle is not None:
            COMPONENT_ORACLES[name] = oracle
        return fn

    return deco


_SW = ", ".join(f"'{s}'" for s in STOPWORDS)

# DuckDB tokenizer twin of functions.text.tokens — same explicit
# whitespace class as the Spark side (WS_CLASS), so both engines tokenize
# identically BY CONSTRUCTION (not by absence of tabs in the fixture)
_TOK = f"regexp_split_to_array(trim(text), '{WS_CLASS}')"


# --------------------------------------------------------------------------
# Token counting: whitespace tokens, distinct types, BPE-ish regex tokens
# --------------------------------------------------------------------------
@_q(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, n_chars, {_TOK} w, text,
                      list_filter(list_transform(string_split_regex(text, '\\n+'),
                                                 p -> trim(p)), p -> p <> '') AS paras
               FROM documents)
    SELECT doc_id,
           n_chars,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_types,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n]')) AS n_regex_tokens,
           round(len(list_filter(w, x -> x IN ({_SW})))*1.0 / nullif(len(w), 0), 4) AS stop_share,
           len(paras) AS n_paras,
           len(paras) - len(list_distinct(paras)) AS n_dup_paras
    FROM t
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.functions.corpus import paragraphs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    paras = paragraphs("text")
    return (
        docs.select(
            "doc_id",
            "n_chars",
            token_count("text").alias("n_tokens"),
            distinct_token_count("text").alias("n_types"),
            regex_token_count("text").cast("long").alias("n_regex_tokens"),
            stopword_share("text").alias("stop_share"),
            F.size(paras).alias("n_paras"),
            (F.size(paras) - F.size(F.array_distinct(paras))).alias("n_dup_paras"),
        )
        .transform(unordered_output)
    )


# --------------------------------------------------------------------------
# Quality scoring: deterministic composite of length/diversity/stopwords,
# plus Gopher-style repetition signals (Rae et al. 2021 §A1.1: top n-gram /
# duplicate n-gram fractions). Spark computes the repetition signals with a
# per-row sorted-run fold (max_frequency) — zero shuffles, embarrassingly
# parallel at 100 TB; the oracle uses an equivalent O(L^2) list_filter count
# (fine at oracle scale, semantics identical).
#
# r3: the query now ALSO runs the C4/Gopher corpus-filter battery
# (functions/corpus.py — length bounds, mean-word-length range, stopword /
# alphabetic shares, repetition screens, terminal-punctuation line share)
# and emits one boolean per rule plus the conjunction ``keep``, so the
# driver hash-checks the filter decisions a training pipeline would
# actually act on, not just the underlying metrics. NULL metric (empty
# doc) fails its rule on both engines.
#
# r5: the query ALSO emits the CCNet-style model-based quality signal —
# bigram-LM perplexity (functions/lm.py) with the corpus itself as the
# reference, vocab_size=16 (small enough that the synthetic corpus's
# out-of-vocab → <unk> path genuinely fires), add-1 smoothing. The oracle
# retrains the model in SQL: same tokenization, same (count desc, token)
# vocab tie-break, same per-doc lag window (no cross-doc bigrams), same
# smoothing arithmetic. ppl is rounded to 4 decimals on BOTH engines —
# the transcendental-determinism pattern from tfidf_top_terms (ln/exp and
# the avg fold order differ in the last ULPs between JVM and libm;
# ~1e-9 absolute here, invisible at 1e-4 granularity). Docs with < 2
# tokens have no bigram evidence: NULL ppl / n_bigrams via left join.
# --------------------------------------------------------------------------
_TERM_PUNCT_RE = """[.!?]["'')\\]]?$"""  # SQL-escaped: '' is a literal quote

_PPL_VOCAB = 16  # reference-LM vocab size (V = vocab + <unk> = 17)

_PPL_CTES = f"""
    lm_tok AS (
      SELECT doc_id, u.i AS pos, ws[u.i + 1] AS w
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
            FROM documents),
           unnest(range(len(ws))) AS u(i)
    ),
    lm_uni AS (SELECT w, count(*) AS c FROM lm_tok GROUP BY w),
    lm_vocab AS (SELECT w FROM lm_uni ORDER BY c DESC, w LIMIT {_PPL_VOCAB}),
    lm_m AS (
      SELECT t.doc_id, t.pos, CASE WHEN v.w IS NULL THEN '<unk>' ELSE t.w END AS tok
      FROM lm_tok t LEFT JOIN lm_vocab v USING (w)
    ),
    lm_bg AS (
      SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             tok AS w2
      FROM lm_m
    ),
    lm_bgf AS (SELECT doc_id, w1, w2 FROM lm_bg WHERE w1 IS NOT NULL),
    lm_bc AS (SELECT w1, w2, count(*) AS c FROM lm_bgf GROUP BY w1, w2),
    lm_cc AS (SELECT w1, sum(c) AS c1 FROM lm_bc GROUP BY w1),
    lm_logp AS (
      SELECT b.doc_id,
             ln((coalesce(bc.c, 0) + 1.0)
                / (coalesce(cc.c1, 0) + 1.0 * {_PPL_VOCAB + 1})) AS logp
      FROM lm_bgf b
      LEFT JOIN lm_bc bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
      LEFT JOIN lm_cc cc ON b.w1 = cc.w1
    ),
    lm_ppl AS (
      SELECT doc_id, round(exp(-avg(logp)), 4) AS ppl, count(*) AS n_bigrams
      FROM lm_logp GROUP BY doc_id
    )"""


@_q(
    "text_quality_scores",
    f"""
    WITH t AS (SELECT doc_id, lang, text, {_TOK} w FROM documents),
    g AS (
      SELECT doc_id, lang, text, w,
             list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
             list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
      FROM t
    ),
    c AS (
      SELECT doc_id, lang, text, w,
             len(w)*1.0 AS n_tok,
             len(list_distinct(w))*1.0 / nullif(len(w)*1.0, 0) AS ttr,
             round(len(list_filter(w, x -> x IN ({_SW})))*1.0 / nullif(len(w), 0), 4) AS sw,
             round(list_max(list_transform(list_distinct(w),
                     t -> len(list_filter(w, x -> x = t))))*1.0 / nullif(len(w), 0), 4) AS top_word_share,
             round(list_max(list_transform(list_distinct(g2),
                     t -> len(list_filter(g2, x -> x = t))))*1.0 / nullif(len(g2), 0), 4) AS top_2gram_share,
             round(1.0 - len(list_distinct(g3))*1.0 / nullif(len(g3), 0), 4) AS dup_3gram_frac
      FROM g
    ),
    m AS (
      SELECT *,
             round(list_aggregate(list_transform(w, x -> len(x)), 'sum')*1.0
                   / nullif(len(w), 0), 4) AS mean_word_len,
             round(len(regexp_replace(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'), '[^A-Za-z]', '', 'g'))*1.0
                   / nullif(len(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')), 0), 4) AS alpha_share,
             round(len(list_filter(list_filter(string_split(text, chr(10)), x -> trim(x) <> ''),
                                   x -> regexp_matches(trim(x), '{_TERM_PUNCT_RE}')))*1.0
                   / nullif(len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')), 0), 4)
               AS term_punct_share
      FROM c
    ),
    f AS (
      SELECT *,
             coalesce(len(w) >= 50 AND len(w) <= 100000, false) AS ok_len,
             coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false) AS ok_word_len,
             coalesce(sw >= 0.06, false) AS ok_stopwords,
             coalesce(alpha_share >= 0.70, false) AS ok_alpha,
             coalesce(top_word_share <= 0.20, false) AS ok_rep_word,
             coalesce(top_2gram_share <= 0.18, false) AS ok_rep_bigram,
             coalesce(dup_3gram_frac <= 0.30, false) AS ok_rep_dup,
             coalesce(term_punct_share >= 0.0, false) AS ok_term_punct
      FROM m
    ),
    {_PPL_CTES}
    SELECT doc_id, lang,
           round((least(n_tok / 50.0, 1.0) + ttr + (1.0 - abs(sw - 0.1))) / 3.0, 4) AS quality,
           top_word_share,
           top_2gram_share,
           dup_3gram_frac,
           (top_word_share <= 0.2 AND top_2gram_share <= 0.2 AND dup_3gram_frac <= 0.2)
             AS repetition_ok,
           mean_word_len, alpha_share, term_punct_share,
           lm_ppl.ppl AS ppl, lm_ppl.n_bigrams AS n_bigrams,
           ok_len, ok_word_len, ok_stopwords, ok_alpha,
           ok_rep_word, ok_rep_bigram, ok_rep_dup, ok_term_punct,
           (ok_len AND ok_word_len AND ok_stopwords AND ok_alpha AND ok_rep_word
            AND ok_rep_bigram AND ok_rep_dup AND ok_term_punct) AS keep
    FROM f LEFT JOIN lm_ppl USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.functions.corpus import corpus_flags
    from etl_school_spark.functions.lm import self_perplexity_scores

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # CCNet-style model signal: reference = the corpus itself (self-
    # perplexity), trained distributed (functions/lm.py) — the model
    # frames never touch the driver. r15: fused train+score
    # (self_perplexity_scores) — one doc_id-keyed bigram stream feeds
    # both the model counts and the scoring join, so the tokenize +
    # posexplode + vocab-map + lag-window chain runs once, not twice
    # (identical counts ⇒ identical ppl doubles; oracle unchanged).
    ppl = self_perplexity_scores(docs, vocab_size=_PPL_VOCAB, k=1.0).withColumn(
        "ppl", F.round("ppl", 4)
    )
    # emit_metrics=True: the expensive fold metrics are computed ONCE and
    # shared between each flag and its output slot (see corpus_flags);
    # re-deriving them here with fresh top_word_share(...) calls would
    # defeat codegen subexpression elimination (fresh lambda IDs) and
    # roughly double the query's per-row cost — measured 3.2 s → 1.9 s
    # at sf0.1 when this was switched to column reuse.
    flagged = corpus_flags(docs, emit_metrics=True).join(ppl, "doc_id", "left")
    tws = F.col("top_word_share")
    t2s = F.col("top_2gram_share")
    d3f = F.col("dup_3gram_frac")
    return (
        flagged.select(
            "doc_id",
            "lang",
            quality_score("text").alias("quality"),
            "top_word_share",
            "top_2gram_share",
            "dup_3gram_frac",
            ((tws <= 0.2) & (t2s <= 0.2) & (d3f <= 0.2)).alias("repetition_ok"),
            "mean_word_len",
            "alpha_share",
            "term_punct_share",
            "ppl",
            "n_bigrams",
            "ok_len",
            "ok_word_len",
            "ok_stopwords",
            "ok_alpha",
            "ok_rep_word",
            "ok_rep_bigram",
            "ok_rep_dup",
            "ok_term_punct",
            "keep",
        )
        .transform(unordered_output)
    )


# --------------------------------------------------------------------------
# Language-ID heuristic: marker-word scoring with fixed tie-break order
# --------------------------------------------------------------------------
def _lang_oracle() -> str:
    counts = []
    for code, markers in LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        counts.append(f"len(list_filter(dw, x -> x IN ({mlist}))) AS c_{code}")
    counts_sql = ",\n             ".join(counts)
    g = "greatest(c_en, c_fr, c_de, c_es)"
    return f"""
    WITH t AS (SELECT doc_id, lang, list_distinct({_TOK}) dw FROM documents),
    c AS (SELECT doc_id, lang,
             {counts_sql}
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN {g} = 0 THEN 'und'
                WHEN c_en = {g} THEN 'en'
                WHEN c_fr = {g} THEN 'fr'
                WHEN c_de = {g} THEN 'de'
                ELSE 'es' END AS lang_pred
    FROM c
    ORDER BY doc_id
    """


@_q("text_lang_id", _lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return unordered_output(docs.select("doc_id", "lang", lang_id("text").alias("lang_pred")))


# --------------------------------------------------------------------------
# Document fingerprinting + exact dedup groups (hash-groupBy)
# --------------------------------------------------------------------------
@_q(
    "dedup_exact_groups",
    """
    SELECT md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS group_n
    FROM documents
    GROUP BY fp
    ORDER BY canonical_id
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.dedup.exact import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    return unordered_output(exact_dedup_groups(docs))


# --------------------------------------------------------------------------
# Fingerprint as a per-doc column (F3-style hashing surface)
# --------------------------------------------------------------------------
@_q(
    "doc_fingerprints",
    """
    SELECT doc_id, md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return unordered_output(docs.select("doc_id", fingerprint("text").alias("fp")))


# --------------------------------------------------------------------------
# Vocabulary building: top terms by corpus frequency with document
# frequency (the IDF denominator). explode → two-level agg; Catalyst's
# partial aggregation makes the term count map-side combinable, so the
# shuffle carries distinct terms, not token instances — the property that
# keeps vocabulary extraction tractable at corpus scale.
# --------------------------------------------------------------------------
@_q(
    "vocabulary_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, u.t AS term
      FROM documents, unnest({_TOK}) AS u(t)
      WHERE u.t <> ''
    )
    SELECT term,
           COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM tok
    GROUP BY term
    ORDER BY tf DESC, term
    LIMIT 50
    """,
)
def vocabulary_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term")).filter(
        F.col("term") != ""
    )
    return (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("tf"), "term")
        .limit(50)
    )


# --------------------------------------------------------------------------
# TF-IDF: top terms per document. idf = ln(N/df); ln() differs between
# JVM and libm in the last ULP (measured: 11/600 integer inputs), so the
# score is rounded to 6 decimals on BOTH sides before ranking — the
# cross-engine determinism pattern for any transcendental function.
# --------------------------------------------------------------------------
@_q(
    "tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, u.t AS term
      FROM documents, unnest({_TOK}) AS u(t)
      WHERE u.t <> ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE tf.doc_id < 50
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_id") < 50)
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .transform(unordered_output)
    )


# --------------------------------------------------------------------------
# PII scrubbing: the C4-style pre-training redaction pass (privacy.py,
# reference analog: none) as an oracle-checked component. The synthetic corpus
# contains no PII-shaped spans (verified at sf0.01: zero hits in all four
# categories), so scrubbing the raw text would be a vacuous check that
# passes even with redaction broken. Instead the query PLANTS one
# deterministic span per category in a per-doc header derived from doc_id
# alone — pure per-row arithmetic/concat, no join, no shuffle, identical
# on a 1000-executor cluster — then runs scrub_corpus and emits the
# per-category audit counts plus the redacted text. The oracle rebuilds
# the identical header in DuckDB SQL and replays the redaction with the
# SAME pattern constants (built programmatically from
# privacy.PII_PATTERNS — the RE2-compatible subset of Java regex, chosen
# in r5 precisely so both engines execute the patterns identically), in
# the same sequential category order with progressive counting.
# --------------------------------------------------------------------------
def _pii_scrub_oracle() -> str:
    from etl_school_spark.privacy import PII_PATTERNS

    hdr = (
        "'from user' || cast(doc_id AS varchar) || '@example.com tel +1-555-' || "
        "lpad(cast(doc_id*7%1000 AS varchar), 3, '0') || '-' || "
        "lpad(cast(doc_id*13%10000 AS varchar), 4, '0') || "
        "' ip 10.' || cast(doc_id%254+1 AS varchar) || '.0.' || "
        "cast(doc_id*3%254+1 AS varchar) || "
        "' ref https://docs.example.com/' || cast(doc_id AS varchar) || "
        "chr(10) || text"
    )
    sql = f"WITH s0 AS (SELECT doc_id, {hdr} AS c FROM documents)"
    prev = "s0"
    for i, (name, rx) in enumerate(PII_PATTERNS.items(), 1):
        sql += (
            f", s{i} AS (SELECT * EXCLUDE (c), "
            f"len(regexp_extract_all(c, '{rx}')) AS n_{name}, "
            f"regexp_replace(c, '{rx}', '<{name.upper()}>', 'g') AS c "
            f"FROM {prev})"
        )
        prev = f"s{i}"
    names = ", ".join(f"n_{n}" for n in PII_PATTERNS)
    return sql + (
        f" SELECT doc_id, {names}, c AS redacted FROM {prev} ORDER BY doc_id"
    )


@_c("text_pii_scrub", _pii_scrub_oracle())
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_school_spark.privacy import PII_PATTERNS, scrub_corpus

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    header = F.concat(
        F.lit("from user"), did, F.lit("@example.com tel +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 13) % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), ((F.col("doc_id") % 254) + 1).cast("string"),
        F.lit(".0."), (((F.col("doc_id") * 3) % 254) + 1).cast("string"),
        F.lit(" ref https://docs.example.com/"), did, F.lit("\n"),
        F.col("text"),
    )
    planted = docs.select("doc_id", header.alias("text"))
    counts = [F.col(f"n_{n}").cast("long").alias(f"n_{n}") for n in PII_PATTERNS]
    return (
        scrub_corpus(planted)
        .select("doc_id", *counts, F.col("text").alias("redacted"))
        .transform(unordered_output)
    )


# --------------------------------------------------------------------------
# Context chunking (r14, training-pipeline extension; reference analog:
# none): split each document into fixed-size token windows with stride
# overlap — the standard packing step before LLM pre-training
# tokenization. Pure built-ins end to end: tokenize once, generate the
# window starts with `sequence`, posexplode, `slice` + `array_join` the
# window back to text. No join, no aggregation — the only shuffle is the
# standard fan_out; the explode multiplies rows ~len/stride per doc and
# stays embarrassingly parallel at any corpus size. The oracle replays
# the identical windows with DuckDB's lateral generate_series +
# list_slice over the same whitespace-class tokenizer (_TOK), both
# engines slicing 1-based with the same window/stride constants.
# --------------------------------------------------------------------------
_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48


@_c(
    "doc_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_TOK} w FROM documents),
    s AS (SELECT doc_id, w, unnest(range(0, len(w), {_CHUNK_STRIDE})) AS start
          FROM t)
    SELECT doc_id,
           start // {_CHUNK_STRIDE} AS chunk_id,
           least({_CHUNK_TOKENS}, len(w) - start) AS n_tokens,
           array_to_string(list_slice(w, start + 1, start + {_CHUNK_TOKENS}), ' ')
             AS chunk_text
    FROM s ORDER BY doc_id, chunk_id
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_STRIDE)
    )
    return (
        docs.select("doc_id", toks.alias("w"), F.posexplode(starts).alias("chunk_id", "start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(_CHUNK_TOKENS), F.size("w") - F.col("start"))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice("w", F.col("start") + 1, F.lit(_CHUNK_TOKENS)), " "
            ).alias("chunk_text"),
        )
        .transform(unordered_output)
    )
