"""Differential fuzzing: randomly generated relational queries executed
twice — once through this engine's DataFrame operators, once as ANSI SQL
in DuckDB — and compared exactly (rows, schema, values).

The fixed 50-query registry pins the shapes a user writes today; this
harness samples the COMBINATORIAL space around them (predicate mixes,
group-by subsets, aggregate bundles, orderings) so an engine-divergence
bug in any composition — null handling, boundary comparisons, decimal
widening, limit-after-sort — fails a seed, not a user. Seeds are fixed:
the sample is deterministic, so a failure is reproducible by number.

Exactness policy mirrors the registry (operators/aggregates.py): sums of
doubles go through decimal(18,2) on BOTH engines; count/min/max are
exact by nature; all integer aggregates are BIGINT-cast on both sides
(the DuckDB HUGEINT hazard, workload/_suite.py).

CI pins 310 seeds across the fifteen families below (r12 adds family
15 — mega-clique quotient skew: one 300-500-copy exact-dup clique plus
singletons, the partition-skew regime the r12 groupBy+join rep
selection exists for, vs the same union-find reference, 2 CI seeds
(14200-14201) + a 20-seed one-off sweep (14200-14219), all clean;
r11 adds family
14 — quotient components: the three *_dup_groups operators vs a pure-
Python union-find over their sibling pair operators' output, 4 CI seeds
+ a 20-seed one-off sweep (14100-14119), all clean; r9 adds family
13 — the SemDeDup sweep under random n_cells / threshold / keep-rule
on synthetic clustered corpora with planted exact copies vs the
pure-Python same-fold-order reference, 8 CI seeds + a 30-seed one-off
sweep (13008-13037), all clean; r9 adds family 12
— the incremental-dedup acceptance replay under random n / num_perm /
bands / threshold on planted multi-edge-case corpora vs a pure-Python
sequential reference that recomputes fingerprints, signatures, banding,
and the four-stage acceptance order from scratch, 10 CI seeds + a
50-seed one-off sweep (12010-12059), all clean; r9 also adds family 11
— the simhash recursive-pigeonhole refinement under random chunks /
max_hamming / threshold on template-heavy corpora vs a pure-Python
hamming brute force, 15 CI seeds + a 100-seed one-off sweep
(11100-11199), all clean; r8 adds family 10 —
the adaptive Ed-Join under a random parameter sweep of q / max_dist /
block_cap / prefix_len / gram order vs a pure-Python brute-force
blocked join, targeting the short-string catch-all bound; its one-off
sweep was 100 fresh seeds (10100–10199) beyond the 25 CI seeds, all
clean; r3 adds multi-level
aggregation — ROLLUP / CUBE / GROUPING SETS — and as-of joins vs
DuckDB's native ASOF JOIN; r4 adds family 8 — the C4/Gopher corpus
filter battery at randomized thresholds/predicates/metric subsets, whose
one-off sweep was 200 seeds at sf0.001 + 50 seeds at sf0.01, all
clean; r4 also adds family 9 — gap sessionization at random
gaps/keys/predicates, randomly running either the plain one-window
formulation or the hot-key shard+stitch path against one DuckDB
lag+running-sum twin; its one-off sweep was 150 seeds at sf0.001 + 50
at sf0.01, clean). The r4 post-change sweep ran 100 FRESH seeds per
family across families 1-8 (ranges 41000–48099, 800 queries) after the
round's last operator change: 0 failures. Wider one-off sweeps (r3: 1,100 additional
seeds at sf0.001 — 300 relational, 200 each scalar/window/join-shape/
set-op — plus 340 seeds re-run at sf0.01, 10× the data, plus 175
family-6 and 130 family-7 seeds, plus 50 seeds of each new family
re-run at sf0.01, plus a final 700-seed fresh-range sweep of 100 seeds
per family after the round's last operator change) ran clean, so the
committed seed ranges are a regression net, not the full tested
surface. The family-6
sweep EARNED its keep immediately: it surfaced the Spark-vs-ANSI
empty-input grouping-set divergence documented at
build_multilevel_query / test_multilevel_empty_input_divergence.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_school_spark.operators.aggregates import dsum
from etl_school_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

# predicate pool per table: (name, spark Column factory, SQL text)
PREDICATES = {
    "orders": [
        ("price_gt", lambda: F.col("o_totalprice") > 150000.0, "o_totalprice > 150000.0"),
        ("price_le", lambda: F.col("o_totalprice") <= 60000.0, "o_totalprice <= 60000.0"),
        ("prio_in", lambda: F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
         "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
        ("status_eq", lambda: F.col("o_orderstatus") == "F", "o_orderstatus = 'F'"),
        ("date_ge", lambda: F.col("o_orderdate") >= "1995-01-01",
         "o_orderdate >= TIMESTAMP '1995-01-01'"),
        ("date_lt", lambda: F.col("o_orderdate") < "1997-06-15",
         "o_orderdate < TIMESTAMP '1997-06-15'"),
        ("key_mod", lambda: F.col("o_orderkey") % 7 == 3, "o_orderkey % 7 = 3"),
        ("or_mix", lambda: (F.col("o_orderstatus") == "O") | (F.col("o_totalprice") < 30000.0),
         "(o_orderstatus = 'O' OR o_totalprice < 30000.0)"),
    ],
    "lineitem": [
        ("qty_gt", lambda: F.col("l_quantity") > 25.0, "l_quantity > 25.0"),
        ("disc_between", lambda: F.col("l_discount").between(0.02, 0.06),
         "l_discount BETWEEN 0.02 AND 0.06"),
        ("flag_eq", lambda: F.col("l_returnflag") == "R", "l_returnflag = 'R'"),
        ("ship_ge", lambda: F.col("l_shipdate") >= "1996-01-01",
         "l_shipdate >= TIMESTAMP '1996-01-01'"),
        ("line_le", lambda: F.col("l_linenumber") <= 3, "l_linenumber <= 3"),
        ("tax_ne", lambda: F.col("l_tax") != 0.04, "l_tax <> 0.04"),
    ],
    "customer": [
        ("bal_pos", lambda: F.col("c_acctbal") > 0.0, "c_acctbal > 0.0"),
        ("seg_in", lambda: F.col("c_mktsegment").isin("BUILDING", "MACHINERY"),
         "c_mktsegment IN ('BUILDING', 'MACHINERY')"),
        ("nation_lt", lambda: F.col("c_nationkey") < 13, "c_nationkey < 13"),
    ],
    # events exercises the TIMESTAMP(NANOS) → NTZ reconstruction path
    # (tables.load_table), the engine's trickiest cross-engine surface
    "events": [
        ("ts_ge", lambda: F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-08 00:00:00'"),
         "ts >= TIMESTAMP '2024-01-08 00:00:00'"),
        ("ts_lt", lambda: F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-12 12:00:00'"),
         "ts < TIMESTAMP '2024-01-12 12:00:00'"),
        ("type_in", lambda: F.col("event_type").isin("click", "view"),
         "event_type IN ('click', 'view')"),
        ("val_gt", lambda: F.col("value") > 100.0, "value > 100.0"),
        ("user_mod", lambda: F.col("user_id") % 5 == 2, "user_id % 5 = 2"),
    ],
    # broadcast-join shape: orders ⋈ customer on custkey
    "orders_customer": [
        ("price_gt", lambda: F.col("o_totalprice") > 100000.0, "o_totalprice > 100000.0"),
        ("seg_eq", lambda: F.col("c_mktsegment") == "BUILDING", "c_mktsegment = 'BUILDING'"),
        ("status_eq", lambda: F.col("o_orderstatus") == "O", "o_orderstatus = 'O'"),
        ("bal_neg", lambda: F.col("c_acctbal") < 0.0, "c_acctbal < 0.0"),
        ("date_ge", lambda: F.col("o_orderdate") >= "1996-01-01",
         "o_orderdate >= TIMESTAMP '1996-01-01'"),
    ],
}

# group-by candidates (low-cardinality columns)
GROUPS = {
    "orders": ["o_orderstatus", "o_orderpriority"],
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "events": ["event_type"],
    "orders_customer": ["c_mktsegment", "o_orderstatus"],
}

# aggregate pool: (alias, spark Column factory, SQL text) — exact on both
# engines by construction
AGGS = {
    "orders": [
        ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"), "COUNT(*) AS n_rows"),
        ("n_cust", lambda: F.countDistinct("o_custkey").alias("n_cust"),
         "COUNT(DISTINCT o_custkey) AS n_cust"),
        ("sum_price", lambda: dsum("o_totalprice").alias("sum_price"),
         "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"),
        ("min_date", lambda: F.min("o_orderdate").alias("min_date"),
         "MIN(o_orderdate) AS min_date"),
        ("max_key", lambda: F.max("o_orderkey").alias("max_key"),
         "MAX(o_orderkey) AS max_key"),
    ],
    "lineitem": [
        ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"), "COUNT(*) AS n_rows"),
        ("sum_qty", lambda: dsum("l_quantity").alias("sum_qty"),
         "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty"),
        ("sum_price", lambda: dsum("l_extendedprice").alias("sum_price"),
         "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"),
        ("n_parts", lambda: F.countDistinct("l_partkey").alias("n_parts"),
         "COUNT(DISTINCT l_partkey) AS n_parts"),
        ("max_ship", lambda: F.max("l_shipdate").alias("max_ship"),
         "MAX(l_shipdate) AS max_ship"),
    ],
    "customer": [
        ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"), "COUNT(*) AS n_rows"),
        ("sum_bal", lambda: dsum("c_acctbal").alias("sum_bal"),
         "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal"),
        ("min_key", lambda: F.min("c_custkey").alias("min_key"),
         "MIN(c_custkey) AS min_key"),
    ],
    "events": [
        ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"), "COUNT(*) AS n_rows"),
        ("n_users", lambda: F.countDistinct("user_id").alias("n_users"),
         "COUNT(DISTINCT user_id) AS n_users"),
        ("sum_val", lambda: dsum("value").alias("sum_val"),
         "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val"),
        ("min_ts", lambda: F.min("ts").alias("min_ts"), "MIN(ts) AS min_ts"),
        ("max_ts", lambda: F.max("ts").alias("max_ts"), "MAX(ts) AS max_ts"),
    ],
    "orders_customer": [
        ("n_rows", lambda: F.count(F.lit(1)).alias("n_rows"), "COUNT(*) AS n_rows"),
        ("sum_price", lambda: dsum("o_totalprice").alias("sum_price"),
         "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"),
        ("n_cust", lambda: F.countDistinct("o_custkey").alias("n_cust"),
         "COUNT(DISTINCT o_custkey) AS n_cust"),
        ("min_bal", lambda: F.min("c_acctbal").alias("min_bal"),
         "MIN(c_acctbal) AS min_bal"),
    ],
}


# ---------------------------------------------------------------------------
# Family 2: row-level scalar expressions (string / date / conditional /
# hash) — per-row outputs ordered by the table key, compared exactly.
# Pools avoid engine-divergent edges by construction: no float rounding
# (HALF_UP vs HALF_EVEN), no locale-dependent collation, no tz casts.
# ---------------------------------------------------------------------------
SCALAR_KEYS = {"customer": "c_custkey", "orders": "o_orderkey"}

SCALAR_EXPRS = {
    "customer": [
        ("up_name", lambda: F.upper("c_name"), "upper(c_name) AS up_name"),
        ("sub_name", lambda: F.substring("c_name", 3, 5), "substr(c_name, 3, 5) AS sub_name"),
        ("name_len", lambda: F.length("c_name").cast("long"),
         "CAST(length(c_name) AS BIGINT) AS name_len"),
        ("seg_name", lambda: F.concat_ws("_", "c_mktsegment", "c_name"),
         "c_mktsegment || '_' || c_name AS seg_name"),
        ("bal_sign", lambda: F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos"),
         "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_sign"),
        ("bal_floor", lambda: F.floor("c_acctbal").cast("long"),
         "CAST(floor(c_acctbal) AS BIGINT) AS bal_floor"),
        ("seg_or_x", lambda: F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("X")),
         "coalesce(nullif(c_mktsegment, 'BUILDING'), 'X') AS seg_or_x"),
        ("name_md5", lambda: F.md5("c_name"), "md5(c_name) AS name_md5"),
        ("nat_mod", lambda: (F.col("c_nationkey") % 7).cast("long"),
         "CAST(c_nationkey % 7 AS BIGINT) AS nat_mod"),
        ("name_rev", lambda: F.reverse("c_name"), "reverse(c_name) AS name_rev"),
    ],
    "orders": [
        ("od_month", lambda: F.date_trunc("month", "o_orderdate"),
         "date_trunc('month', o_orderdate) AS od_month"),
        ("od_year", lambda: F.year("o_orderdate").cast("long"),
         "CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS od_year"),
        ("od_dow_str", lambda: F.date_format("o_orderdate", "yyyy-MM-dd"),
         "strftime(o_orderdate, '%Y-%m-%d') AS od_dow_str"),
        ("prio_code", lambda: F.substring("o_orderpriority", 1, 1),
         "substr(o_orderpriority, 1, 1) AS prio_code"),
        ("prio_pad", lambda: F.lpad("o_orderpriority", 12, "#"),
         "lpad(o_orderpriority, 12, '#') AS prio_pad"),
        ("price_band",
         lambda: F.when(F.col("o_totalprice") > 200000, "hi")
                  .when(F.col("o_totalprice") > 100000, "mid").otherwise("lo"),
         "CASE WHEN o_totalprice > 200000 THEN 'hi' "
         "WHEN o_totalprice > 100000 THEN 'mid' ELSE 'lo' END AS price_band"),
        ("key_hex", lambda: F.lower(F.hex(F.col("o_orderkey"))),
         "lower(to_hex(o_orderkey)) AS key_hex"),
        ("ceil_cents", lambda: F.ceil(F.col("o_totalprice")).cast("long"),
         "CAST(ceil(o_totalprice) AS BIGINT) AS ceil_cents"),
        ("status_rep", lambda: F.regexp_replace("o_orderstatus", "O", "OPEN"),
         "regexp_replace(o_orderstatus, 'O', 'OPEN') AS status_rep"),
    ],
}


def build_scalar_query(seed: int):
    rng = random.Random(seed)
    table = rng.choice(list(SCALAR_EXPRS))
    key = SCALAR_KEYS[table]
    exprs = rng.sample(SCALAR_EXPRS[table], rng.randint(2, 4))
    preds = rng.sample(PREDICATES[table], rng.randint(0, 2))

    def spark_build(spark):
        df = load_table(spark, SF_DIR, table)
        for _, col, _ in preds:
            df = df.filter(col())
        return df.select(
            F.col(key), *[c().alias(a) for a, c, _ in exprs]
        ).orderBy(key)

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    select = ", ".join([key] + [s for _, _, s in exprs])
    sql = f"SELECT {select} FROM {table}{where} ORDER BY {key}"
    return table, spark_build, sql


# ---------------------------------------------------------------------------
# Family 3: window functions — ranking / offset / running frames over a
# deterministic (partition, unique-key order) spec. Running sums go
# through decimal on both engines; integer window outputs BIGINT-cast.
# ---------------------------------------------------------------------------
from pyspark.sql.window import Window  # noqa: E402

# table → (partition col, unique order key, running-sum value col)
WINDOW_SPECS = {
    "orders": ("o_orderstatus", "o_orderkey", "o_totalprice"),
    "customer": ("c_mktsegment", "c_custkey", "c_acctbal"),
    "events": ("event_type", "event_id", "value"),
}


def _window_exprs(part: str, key: str, val: str):
    return [
        ("rn", lambda w, wr: F.row_number().over(w).cast("long"),
         f"CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn"),
        ("lag_key", lambda w, wr: F.lag(key).over(w).cast("long"),
         f"CAST(LAG({key}) OVER w AS BIGINT) AS lag_key"),
        ("lead_key", lambda w, wr: F.lead(key).over(w).cast("long"),
         f"CAST(LEAD({key}) OVER w AS BIGINT) AS lead_key"),
        ("nt4", lambda w, wr: F.ntile(4).over(w).cast("long"),
         f"CAST(NTILE(4) OVER w AS BIGINT) AS nt4"),
        ("run_sum",
         lambda w, wr: F.sum(F.col(val).cast("decimal(18,2)")).over(wr).cast("double"),
         f"CAST(SUM(CAST({val} AS DECIMAL(18,2))) OVER wr AS DOUBLE) AS run_sum"),
        ("run_n", lambda w, wr: F.count(F.lit(1)).over(wr).cast("long"),
         f"CAST(COUNT(*) OVER wr AS BIGINT) AS run_n"),
        ("part_min", lambda w, wr: F.min(key).over(w).cast("long"),
         f"CAST(MIN({key}) OVER w AS BIGINT) AS part_min"),
    ]


def build_multilevel_query(seed: int):
    """Family 6: multi-level aggregation — ROLLUP / CUBE / GROUPING SETS
    over 2-3 group columns with the standard aggregate bundles. Exercises
    the Expand-based grouping-set lowering (subtotal rows with NULL group
    keys, HUGEINT-safe aggregates replicated per grouping set) that the
    registered star_revenue_suite uses with fixed columns, across random
    column subsets and predicate mixes.

    Known engine divergence, found by this family's r3 wide sweep (seeds
    5042/5094): on EMPTY input ANSI/DuckDB emit the grand-total grouping
    set as one row (NULL keys, COUNT=0) while Spark's Expand lowering
    emits zero rows. The oracle is aligned to Spark's semantics with
    ``HAVING COUNT(*) > 0`` — exactly a no-op on non-empty input (every
    real grouping-set row aggregates >= 1 input row), and on empty input
    it drops only the standard's vacuous grand-total row. Pinned by
    test_multilevel_empty_input_divergence."""
    rng = random.Random(seed)
    table = rng.choice(["orders", "lineitem", "customer"])
    preds = rng.sample(PREDICATES[table], rng.randint(0, 2))
    n_groups = rng.randint(2, len(GROUPS[table]))
    groups = rng.sample(GROUPS[table], n_groups)
    aggs = rng.sample(AGGS[table], rng.randint(1, 3))
    mode = rng.choice(["rollup", "cube", "grouping_sets"])
    if mode == "grouping_sets":
        # random non-empty collection of subsets (always include full set
        # and the grand total, plus 0-2 random strict subsets)
        subsets = [list(groups), []]
        for _ in range(rng.randint(0, 2)):
            s = rng.sample(groups, rng.randint(1, len(groups) - 1))
            # keep subset column order aligned with `groups` (canonical)
            sub = [g for g in groups if g in s]
            if sub not in subsets:
                subsets.append(sub)
    else:
        subsets = None

    def spark_build(spark):
        df = load_table(spark, SF_DIR, table)
        for _, col, _ in preds:
            df = df.filter(col())
        if mode == "rollup":
            g = df.rollup(*groups)
        elif mode == "cube":
            g = df.cube(*groups)
        else:
            g = df.groupingSets(subsets, *groups)
        return g.agg(*[a() for _, a, _ in aggs])

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    select = ", ".join(groups + [s for _, _, s in aggs])
    if mode == "rollup":
        by = f"ROLLUP({', '.join(groups)})"
    elif mode == "cube":
        by = f"CUBE({', '.join(groups)})"
    else:
        sets = ", ".join("(" + ", ".join(s) + ")" for s in subsets)
        by = f"GROUPING SETS ({sets})"
    sql = f"SELECT {select} FROM {table}{where} GROUP BY {by} HAVING COUNT(*) > 0"
    return table, spark_build, sql


def build_asof_query(seed: int):
    """Family 7: as-of joins — the engine's union-window backward join
    (operators/temporal.asof_join) vs DuckDB's NATIVE ASOF JOIN, across
    random right-side sparsities, left predicates, and left/inner
    variants. An independent implementation on each side, so a semantics
    bug in either formulation (tie handling, inner filtering, NULL
    carry) diverges. The right side is aggregated per (key, ts) first:
    both engines leave duplicate-timestamp winners unspecified, so the
    fuzz surface is restricted to well-defined inputs."""
    rng = random.Random(seed)
    m = rng.choice([10, 20, 40])
    r = rng.randrange(m)
    how = rng.choice(["left", "inner"])
    preds = rng.sample(PREDICATES["events"], rng.randint(0, 2))

    def spark_build(spark):
        from etl_school_spark.operators.temporal import asof_join

        ev = load_table(spark, SF_DIR, "events")
        left = ev
        for _, col, _ in preds:
            left = left.filter(col())
        left = left.select("event_id", "user_id", "ts")
        right = (
            ev.filter(F.col("event_id") % m == r)
            .groupBy("user_id", "ts")
            .agg(F.max(F.col("event_id") % 5).cast("long").alias("tier"))
        )
        return asof_join(
            left, right, key="user_id", ts="ts", value_cols=["tier"], how=how
        ).select("event_id", "user_id", "tier")

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    kw = "ASOF LEFT JOIN" if how == "left" else "ASOF JOIN"
    sql = f"""
    SELECT e.event_id, e.user_id, t.tier
    FROM (SELECT event_id, user_id, ts FROM events{where}) e
    {kw} (
      SELECT user_id, ts, CAST(MAX(event_id % 5) AS BIGINT) AS tier
      FROM events WHERE event_id % {m} = {r}
      GROUP BY user_id, ts
    ) t ON e.user_id = t.user_id AND e.ts >= t.ts
    """
    return "events", spark_build, sql


def build_window_query(seed: int):
    rng = random.Random(seed)
    table = rng.choice(list(WINDOW_SPECS))
    part, key, val = WINDOW_SPECS[table]
    exprs = rng.sample(_window_exprs(part, key, val), rng.randint(2, 4))
    preds = rng.sample(PREDICATES[table], rng.randint(0, 2))

    def spark_build(spark):
        df = load_table(spark, SF_DIR, table)
        for _, col, _ in preds:
            df = df.filter(col())
        w = Window.partitionBy(part).orderBy(key)
        wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return df.select(
            F.col(part), F.col(key), *[c(w, wr).alias(a) for a, c, _ in exprs]
        ).orderBy(part, key)

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    select = ", ".join([part, key] + [s for _, _, s in exprs])
    sql = (
        f"SELECT {select} FROM {table}{where} "
        f"WINDOW w AS (PARTITION BY {part} ORDER BY {key}), "
        f"wr AS (PARTITION BY {part} ORDER BY {key} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        f"ORDER BY {part}, {key}"
    )
    return table, spark_build, sql


# ---------------------------------------------------------------------------
# Family 4: join shapes — LEFT / SEMI / ANTI / INNER with a filtered
# build side. Null propagation through outer joins and the EXISTS /
# NOT-EXISTS duality are classic cross-engine divergence spots.
# ---------------------------------------------------------------------------
def build_join_query(seed: int):
    rng = random.Random(seed)
    jtype = rng.choice(["left", "semi", "anti", "inner"])
    r_preds = rng.sample(PREDICATES["customer"], rng.randint(0, 2))
    l_preds = rng.sample(PREDICATES["orders"], rng.randint(0, 1))

    def spark_build(spark):
        orders = load_table(spark, SF_DIR, "orders")
        cust = load_table(spark, SF_DIR, "customer")
        for _, col, _ in r_preds:
            cust = cust.filter(col())
        for _, col, _ in l_preds:
            orders = orders.filter(col())
        on = orders["o_custkey"] == cust["c_custkey"]
        if jtype in ("semi", "anti"):
            out = orders.join(cust, on, f"left_{jtype}").select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            )
        elif jtype == "left":
            out = orders.join(cust, on, "left").select(
                "o_orderkey", "c_custkey", "c_mktsegment"
            )
        else:
            out = orders.join(cust, on, "inner").select(
                "o_orderkey", "c_custkey", "c_mktsegment"
            )
        return out.orderBy("o_orderkey")

    r_where = " AND ".join(s for _, _, s in r_preds)
    l_where = (" WHERE " + " AND ".join(s for _, _, s in l_preds)) if l_preds else ""
    filtered_cust = f"(SELECT * FROM customer{(' WHERE ' + r_where) if r_where else ''})"
    if jtype in ("semi", "anti"):
        neg = "NOT " if jtype == "anti" else ""
        exists = (
            f"{neg}EXISTS (SELECT 1 FROM {filtered_cust} c "
            "WHERE o_custkey = c.c_custkey)"
        )
        where = f"{l_where} AND {exists}" if l_where else f" WHERE {exists}"
        sql = (
            "SELECT o_orderkey, o_orderstatus, o_totalprice "
            f"FROM orders{where} ORDER BY o_orderkey"
        )
    else:
        kw = "LEFT JOIN" if jtype == "left" else "JOIN"
        sql = (
            "SELECT o_orderkey, c_custkey, c_mktsegment "
            f"FROM (SELECT * FROM orders{l_where}) o {kw} {filtered_cust} c "
            "ON o.o_custkey = c.c_custkey ORDER BY o_orderkey"
        )
    return jtype, spark_build, sql


# ---------------------------------------------------------------------------
# Family 5: set operations — UNION / UNION ALL / INTERSECT / EXCEPT
# between two differently-filtered projections of one table. Exercises
# set-semantics dedup, null equality in set ops, and unionByName.
# ---------------------------------------------------------------------------
_SETOP_COLS = {
    "orders": ["o_orderstatus", "o_orderpriority"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "lineitem": ["l_returnflag", "l_linestatus"],
}


def build_setop_query(seed: int):
    rng = random.Random(seed)
    table = rng.choice(list(_SETOP_COLS))
    cols = _SETOP_COLS[table]
    op = rng.choice(["union", "union_all", "intersect", "except"])
    p1 = rng.sample(PREDICATES[table], rng.randint(0, 2))
    p2 = rng.sample(PREDICATES[table], rng.randint(0, 2))

    def side(spark, preds):
        df = load_table(spark, SF_DIR, table)
        for _, col, _ in preds:
            df = df.filter(col())
        return df.select(*cols)

    def spark_build(spark):
        a, b = side(spark, p1), side(spark, p2)
        if op == "union":
            out = a.unionByName(b).distinct()
        elif op == "union_all":
            out = a.unionByName(b)
        elif op == "intersect":
            out = a.intersect(b)
        else:
            out = a.subtract(b)  # subtract = SQL EXCEPT (set semantics)
        return out.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).orderBy(*cols)

    def sql_side(preds):
        where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
        return f"SELECT {', '.join(cols)} FROM {table}{where}"

    kw = {"union": "UNION", "union_all": "UNION ALL",
          "intersect": "INTERSECT", "except": "EXCEPT"}[op]
    sql = (
        f"SELECT {', '.join(cols)}, COUNT(*) AS n FROM "
        f"({sql_side(p1)} {kw} {sql_side(p2)}) "
        f"GROUP BY {', '.join(cols)} ORDER BY {', '.join(cols)}"
    )
    return op, spark_build, sql


# ---------------------------------------------------------------------------
# Family 8 (r4): text/corpus metrics — the C4/Gopher filter battery under
# RANDOM thresholds, document predicates, and metric subsets. The
# registered text_quality_scores query pins the battery at its default
# thresholds; this family samples the threshold space, so a boundary bug
# (rounding mismatch at a cut point, NULL-metric handling under a
# disabled rule, a metric whose two engine formulations drift on some
# document) fails a seed, not a user's filter configuration.
# ---------------------------------------------------------------------------
from etl_school_spark.functions.text import STOPWORDS, WS_CLASS  # noqa: E402

_SW = ", ".join(f"'{s}'" for s in STOPWORDS)

DOC_PREDICATES = [
    ("lang_en", lambda: F.col("lang") == "en", "lang = 'en'"),
    ("lang_not_de", lambda: F.col("lang") != "de", "lang <> 'de'"),
    ("id_mod", lambda: F.col("doc_id") % 3 == 1, "doc_id % 3 = 1"),
    ("chars_gt", lambda: F.col("n_chars") > 300, "n_chars > 300"),
    ("chars_le", lambda: F.col("n_chars") <= 900, "n_chars <= 900"),
]

# metric name → DuckDB expression over the m CTE (canonical names match
# corpus_flags emit_metrics output)
_CORPUS_METRICS = [
    "n_tokens",
    "mean_word_len",
    "stop_share",
    "alpha_share",
    "top_word_share",
    "top_2gram_share",
    "dup_3gram_frac",
    "term_punct_share",
]

_CORPUS_TPL = """
    WITH t0 AS (SELECT doc_id, lang, n_chars, text FROM documents{where}),
    t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '{ws}') w FROM t0),
    g AS (
      SELECT doc_id, text, w,
             list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
             list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
      FROM t
    ),
    m AS (
      SELECT doc_id,
             len(w) AS n_tokens,
             round(list_aggregate(list_transform(w, x -> len(x)), 'sum')*1.0
                   / nullif(len(w), 0), 4) AS mean_word_len,
             round(len(list_filter(w, x -> x IN ({sw})))*1.0 / nullif(len(w), 0), 4) AS stop_share,
             round(len(regexp_replace(regexp_replace(text, '{ws}', '', 'g'), '[^A-Za-z]', '', 'g'))*1.0
                   / nullif(len(regexp_replace(text, '{ws}', '', 'g')), 0), 4) AS alpha_share,
             round(list_max(list_transform(list_distinct(w),
                     t -> len(list_filter(w, x -> x = t))))*1.0 / nullif(len(w), 0), 4) AS top_word_share,
             round(list_max(list_transform(list_distinct(g2),
                     t -> len(list_filter(g2, x -> x = t))))*1.0 / nullif(len(g2), 0), 4) AS top_2gram_share,
             round(1.0 - len(list_distinct(g3))*1.0 / nullif(len(g3), 0), 4) AS dup_3gram_frac,
             round(len(list_filter(list_filter(string_split(text, chr(10)), x -> trim(x) <> ''),
                                   x -> regexp_matches(trim(x), '{tp_re}')))*1.0
                   / nullif(len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')), 0), 4)
               AS term_punct_share
      FROM g
    ),
    f AS (
      SELECT *,
             coalesce(n_tokens >= {min_tokens} AND n_tokens <= {max_tokens}, false) AS ok_len,
             coalesce(mean_word_len >= CAST({min_mwl} AS DOUBLE)
                      AND mean_word_len <= CAST({max_mwl} AS DOUBLE), false) AS ok_word_len,
             coalesce(stop_share >= CAST({min_sw} AS DOUBLE), false) AS ok_stopwords,
             coalesce(alpha_share >= CAST({min_alpha} AS DOUBLE), false) AS ok_alpha,
             coalesce(top_word_share <= CAST({max_tw} AS DOUBLE), false) AS ok_rep_word,
             coalesce(top_2gram_share <= CAST({max_t2} AS DOUBLE), false) AS ok_rep_bigram,
             coalesce(dup_3gram_frac <= CAST({max_d3} AS DOUBLE), false) AS ok_rep_dup,
             coalesce(term_punct_share >= CAST({min_tp} AS DOUBLE), false) AS ok_term_punct
      FROM m
    )
    SELECT doc_id, {metric_cols}
           ok_len, ok_word_len, ok_stopwords, ok_alpha, ok_rep_word,
           ok_rep_bigram, ok_rep_dup, ok_term_punct,
           (ok_len AND ok_word_len AND ok_stopwords AND ok_alpha
            AND ok_rep_word AND ok_rep_bigram AND ok_rep_dup
            AND ok_term_punct) AS keep
    FROM f ORDER BY doc_id
"""


def build_corpus_filter_query(seed: int):
    """Family 8: the corpus-filter battery at randomized thresholds over
    a randomly-filtered document set, emitting a random metric subset
    plus every flag and the keep conjunction."""
    rng = random.Random(seed)
    th = dict(
        min_tokens=rng.choice([0, 20, 50, 80, 120]),
        max_tokens=rng.choice([150, 300, 600, 100_000]),
        min_mean_word_len=rng.choice([2.0, 3.0, 4.0, 4.6, 5.2]),
        max_mean_word_len=rng.choice([5.0, 6.4, 8.0, 10.0]),
        min_stopword_share=rng.choice([0.0, 0.03, 0.06, 0.1, 0.18]),
        min_alpha_share=rng.choice([0.5, 0.66, 0.7, 0.82, 0.9]),
        max_top_word_share=rng.choice([0.04, 0.1, 0.15, 0.2, 0.3]),
        max_top_bigram_share=rng.choice([0.02, 0.1, 0.18, 0.25]),
        max_dup_trigram_frac=rng.choice([0.0, 0.1, 0.3, 0.5]),
        min_terminal_punct_share=rng.choice([0.0, 0.2, 0.55, 0.9]),
    )
    preds = rng.sample(DOC_PREDICATES, rng.randint(0, 2))
    metrics = sorted(rng.sample(_CORPUS_METRICS, rng.randint(2, 4)))

    def spark_build(spark):
        from etl_school_spark.functions.corpus import corpus_flags

        docs = load_table(spark, SF_DIR, "documents")
        for _, col, _ in preds:
            docs = docs.filter(col())
        flagged = corpus_flags(docs, emit_metrics=True, **th)
        return flagged.select(
            "doc_id",
            *metrics,
            "ok_len", "ok_word_len", "ok_stopwords", "ok_alpha",
            "ok_rep_word", "ok_rep_bigram", "ok_rep_dup", "ok_term_punct",
            "keep",
        ).orderBy("doc_id")

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    sql = _CORPUS_TPL.format(
        where=where,
        sw=_SW,
        ws=WS_CLASS,
        tp_re="""[.!?]["'')\\]]?$""",
        metric_cols="".join(f"{m}, " for m in metrics),
        min_tokens=th["min_tokens"],
        max_tokens=th["max_tokens"],
        min_mwl=th["min_mean_word_len"],
        max_mwl=th["max_mean_word_len"],
        min_sw=th["min_stopword_share"],
        min_alpha=th["min_alpha_share"],
        max_tw=th["max_top_word_share"],
        max_t2=th["max_top_bigram_share"],
        max_d3=th["max_dup_trigram_frac"],
        min_tp=th["min_terminal_punct_share"],
    )
    return "documents", spark_build, sql


# ---------------------------------------------------------------------------
# Family 9 (r4): gap sessionization — random gaps, keys, predicates, and
# (crucially) a random choice between the plain one-window formulation
# and the hot-key shard+stitch path, both checked against ONE DuckDB
# lag+running-sum twin. The registered session queries pin fixed
# gaps/keys; this samples the space, and any stitch bug (boundary
# session split/merge at a shard edge) diverges from the twin.
# ---------------------------------------------------------------------------
def build_session_query(seed: int):
    rng = random.Random(seed)
    gap_min = rng.choice([5, 15, 30, 47, 90, 240])
    key = rng.choice(["user_id", "event_type"])
    preds = rng.sample(PREDICATES["events"], rng.randint(0, 2))
    impl = rng.choice(["plain", "sharded"])
    shard_us = rng.choice([3600, 4 * 3600, 24 * 3600]) * 1_000_000
    gap_us = gap_min * 60 * 1_000_000

    def spark_build(spark):
        from etl_school_spark.operators.sessions import (
            gap_sessions,
            gap_sessions_sharded,
        )

        ev = load_table(spark, SF_DIR, "events")
        for _, col, _ in preds:
            ev = ev.filter(col())
        ev = ev.select(key, "ts", "event_id")
        if impl == "plain":
            out = gap_sessions(ev, key, "ts", gap_us, "event_id")
        else:
            out = gap_sessions_sharded(ev, key, "ts", gap_us, "event_id", shard_us)
        return out.withColumn("n_events", F.col("n_events").cast("long")).orderBy(
            key, "ses_start"
        )

    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    sql = f"""
    WITH e AS (SELECT {key}, ts, event_id FROM events{where}),
    f AS (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                     OR date_diff('microsecond', lag(ts) OVER w, ts) >= {gap_us}
                THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY {key} ORDER BY ts, event_id)
    ),
    s AS (SELECT *, SUM(ns) OVER (PARTITION BY {key} ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid FROM f)
    SELECT {key}, MIN(ts) AS ses_start, MAX(ts) AS ses_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY {key}, sid ORDER BY {key}, ses_start
    """
    return impl, spark_build, sql


def build_query(seed: int):
    """One deterministic random query: (table, spark_builder, sql_text)."""
    rng = random.Random(seed)
    table = rng.choice(list(PREDICATES))
    preds = rng.sample(PREDICATES[table], rng.randint(0, 3))
    n_groups = rng.randint(0, min(2, len(GROUPS[table])))
    groups = rng.sample(GROUPS[table], n_groups)
    aggs = rng.sample(AGGS[table], rng.randint(1, 3))

    def spark_build(spark):
        if table == "orders_customer":
            from pyspark.sql import functions as SF

            df = load_table(spark, SF_DIR, "orders").join(
                SF.broadcast(load_table(spark, SF_DIR, "customer")),
                F.col("o_custkey") == F.col("c_custkey"),
            )
        else:
            df = load_table(spark, SF_DIR, table)
        for _, col, _ in preds:
            df = df.filter(col())
        if groups:
            out = df.groupBy(*groups).agg(*[a() for _, a, _ in aggs])
        else:
            out = df.agg(*[a() for _, a, _ in aggs])
        return out.orderBy(*(groups + [alias for alias, _, _ in aggs]))

    from_sql = (
        "orders JOIN customer ON o_custkey = c_custkey"
        if table == "orders_customer"
        else table
    )
    where = (" WHERE " + " AND ".join(s for _, _, s in preds)) if preds else ""
    select = ", ".join(([*groups] if groups else []) + [s for _, _, s in aggs])
    group = (" GROUP BY " + ", ".join(groups)) if groups else ""
    order = " ORDER BY " + ", ".join(groups + [alias for alias, _, _ in aggs])
    sql = f"SELECT {select} FROM {from_sql}{where}{group}{order}"
    return table, spark_build, sql


@pytest.fixture(scope="module")
def duck():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import duck_connection

    return duck_connection(SF_DIR)


SEEDS = list(range(60))


@pytest.mark.parametrize("seed", SEEDS)
def test_random_query_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_{seed}", got, want), f"divergence for seed {seed}: {sql}"


@pytest.mark.parametrize("seed", list(range(1000, 1025)))
def test_random_scalar_query_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_scalar_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_scalar_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(4000, 4020)))
def test_random_setop_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_setop_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_setop_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(3000, 3025)))
def test_random_join_shape_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_join_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_join_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(2000, 2025)))
def test_random_window_query_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_window_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_window_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(5000, 5025)))
def test_random_multilevel_agg_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_multilevel_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_mlg_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


def test_multilevel_empty_input_divergence(spark, duck):
    """Documents the Spark-vs-ANSI grouping-set edge the r3 sweep found:
    a ROLLUP over zero input rows yields NO rows from Spark's Expand
    lowering but ONE grand-total row (NULL keys, COUNT 0) from DuckDB.
    If a Spark upgrade changes either side, this test fails and the
    family-6 HAVING alignment must be revisited."""
    got = (
        load_table(spark, SF_DIR, "orders")
        .filter("o_totalprice > 150000.0 AND o_totalprice <= 60000.0")
        .rollup("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    assert got == []  # Spark: empty
    want = duck.execute(
        "SELECT o_orderpriority, COUNT(*) AS n_rows FROM orders "
        "WHERE o_totalprice > 150000.0 AND o_totalprice <= 60000.0 "
        "GROUP BY ROLLUP(o_orderpriority)"
    ).fetchall()
    assert len(want) == 1 and want[0][1] == 0  # ANSI: grand-total row


@pytest.mark.parametrize("seed", list(range(8000, 8020)))
def test_random_sessionization_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_session_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_sess_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(7000, 7025)))
def test_random_corpus_filter_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_corpus_filter_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_corpus_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


@pytest.mark.parametrize("seed", list(range(6000, 6020)))
def test_random_asof_join_matches_duckdb(spark, duck, seed):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    _, spark_build, sql = build_asof_query(seed)
    got = spark_build(spark).toPandas()
    want = duck.execute(sql).fetchdf()
    assert not compare(f"fuzz_asof_{seed}", got, want), (
        f"divergence for seed {seed}: {sql}"
    )


# ---------------------------------------------------------------------------
# Family 10 (r8): adaptive Ed-Join under a RANDOM parameter sweep — q,
# max_dist, block_cap, prefix_len, and gram order all vary per seed,
# against a pure-Python brute-force blocked join (every within-block
# pair, full Levenshtein). The hypothesis differential
# (test_properties.py) pins q=2 in one all-signature block; this family
# targets the parameter interactions that test could not reach — above
# all the short-string catch-all bound (edjoin.py `short_len`, a
# function of BOTH q and max_dist), which decides which rows ride the
# chr(3) bucket. Suffix lengths are biased to straddle that bound, the
# alphabet is tiny so blocks are dense with boundary-distance pairs,
# block_cap is small enough that blocks land on BOTH sides of the
# small/signature split, and exact duplicates are planted.
# ---------------------------------------------------------------------------
def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def build_edjoin_case(seed):
    """(params, names) for one Ed-Join sweep seed. Deterministic."""
    rng = random.Random(seed)
    q = rng.choice([1, 2, 3])
    max_dist = rng.choice([1, 2, 3])
    block_cap = rng.choice([2, 8, 64])
    prefix_len = rng.choice([1, 2, 3])
    gram_order = rng.choice(["freq", "lex"])
    alpha = rng.choice(["ab", "abc"])
    # the catch-all regime bound from edjoin.py — suffix lengths sampled
    # 0..bound+max_dist+3 put rows inside it, just past it, and at the
    # partner margin
    short_len = q * max_dist + q - 3 + max_dist
    prefixes = ["P" * prefix_len, "Q" * prefix_len]
    if prefix_len > 1:
        prefixes.append("P" * (prefix_len - 1) + "Q")
    names = []
    for _ in range(rng.randrange(40, 121)):
        lo_bias = rng.random() < 0.5  # half the rows hug the short regime
        top = (short_len + 1) if lo_bias else (short_len + max_dist + 4)
        ln = rng.randrange(0, max(1, top))
        names.append(
            rng.choice(prefixes) + "".join(rng.choice(alpha) for _ in range(ln))
        )
    for _ in range(rng.randrange(0, 6)):  # planted exact dups
        names.append(rng.choice(names))
    return (q, max_dist, block_cap, prefix_len, gram_order), names


@pytest.mark.parametrize("seed", list(range(10000, 10025)))
def test_random_edjoin_sweep_matches_python(spark, seed):
    from etl_school_spark.dedup.edjoin import blocked_edit_distance_pairs

    (q, max_dist, block_cap, prefix_len, gram_order), names = build_edjoin_case(seed)
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in blocked_edit_distance_pairs(
            df, "id", "name", prefix_len=prefix_len, max_dist=max_dist, q=q,
            block_cap=block_cap, gram_order=gram_order,
        ).collect()
    }
    want = set()
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            if names[i][:prefix_len] != names[j][:prefix_len]:
                continue
            d = _py_lev(names[i][prefix_len:], names[j][prefix_len:])
            if d <= max_dist:
                want.add((i, j, d))
    assert got == want, (
        f"seed {seed} q={q} d={max_dist} cap={block_cap} "
        f"plen={prefix_len} order={gram_order}: "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


# ---------------------------------------------------------------------------
# Family 11 (r9): SimHash refinement sweep vs pure-Python brute force.
# The recursive-pigeonhole refinement (simhash.py refine_threshold)
# carries TWO stacked exactly-once mechanisms — pair ownership by first
# agreeing chunk (splitting hot/small paths) and first agreeing
# SUB-chunk within a hot bucket — both word-op CASE chains that a
# single fixture cannot corner. Each seed samples chunks/max_hamming/
# threshold and a template-heavy corpus (shared boilerplate => hot
# buckets, planted exact dups => hamming-0 pairs in every path), then
# requires the refined AND plain outputs to equal an independent
# Python hamming brute force over the collected signatures.
# ---------------------------------------------------------------------------
def build_simhash_refine_case(seed):
    rng = random.Random(seed)
    chunks = rng.choice([2, 3, 4])
    max_hamming = rng.randrange(1, chunks)
    threshold = rng.choice([0, 2, 6, 20])
    words = [f"tok{i}" for i in range(40)]
    docs = []
    next_id = 0
    for _f in range(rng.randrange(3, 8)):  # template families
        base = [rng.choice(words) for _ in range(rng.randrange(8, 16))]
        for _m in range(rng.randrange(2, 9)):
            member = list(base)
            for _e in range(rng.randrange(0, 3)):  # tiny edits
                member[rng.randrange(len(member))] = rng.choice(words)
            docs.append((next_id, " ".join(member)))
            next_id += 1
    for _b in range(rng.randrange(5, 25)):  # background docs
        docs.append(
            (next_id, " ".join(rng.choice(words) for _ in range(rng.randrange(4, 12))))
        )
        next_id += 1
    for _d in range(rng.randrange(0, 4)):  # planted exact dups
        src = rng.choice(docs)
        docs.append((next_id, src[1]))
        next_id += 1
    return chunks, max_hamming, threshold, docs


@pytest.mark.parametrize("seed", list(range(11000, 11015)))
def test_random_simhash_refine_matches_python(spark, seed):
    from etl_school_spark.dedup.simhash import simhash_near_pairs
    from etl_school_spark.functions.text import simhash64_packed

    chunks, max_hamming, threshold, docs = build_simhash_refine_case(seed)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = {
        r.doc_id: r.sig & 0xFFFFFFFFFFFFFFFF
        for r in df.select("doc_id", simhash64_packed("text").alias("sig")).collect()
    }
    want = {}
    ids = sorted(sigs)
    for x, i in enumerate(ids):
        for j in ids[x + 1:]:
            d = bin(sigs[i] ^ sigs[j]).count("1")
            if d <= max_hamming:
                want[(i, j)] = d

    for thr in (None, threshold):
        got = {
            (r.id_a, r.id_b): r.hamming_dist
            for r in simhash_near_pairs(
                df, max_hamming=max_hamming, chunks=chunks, refine_threshold=thr
            ).collect()
        }
        assert got == want, (
            f"seed {seed} chunks={chunks} h={max_hamming} thr={thr}: "
            f"missing={sorted(set(want) - set(got))[:5]} "
            f"extra={sorted(set(got) - set(want))[:5]}"
        )


# ---------------------------------------------------------------------------
# Family 12 (r9): incremental-dedup acceptance replay vs a pure-Python
# sequential reference. The registered `incremental_dedup_accepted`
# oracle pins ONE parameter point (n=3, 128 perms, 32 bands, t=0.8);
# this family sweeps n / num_perm / bands / threshold over corpora
# planted with every acceptance-order edge the pipeline defines:
# exact-vs-history copies (including case/whitespace variants whose
# fingerprints match but whose case-sensitive shingles do not),
# near-vs-history edits, within-batch exact dup chains (lowest-id
# canonical), within-batch near-dup components (transitive closure),
# sub-n-word docs (NULL sig — exact-only participants), empty-string
# docs, and NULL-text docs (NULL fp — bypass the canonical pass
# entirely). The Python twin recomputes fingerprints, shingles, minhash
# signatures (same md5-affine family via perm_constants), band hashes,
# and the four-stage acceptance order from scratch — no Spark state is
# reused, so a divergence in ANY stage's semantics fails the seed.
# ---------------------------------------------------------------------------
import hashlib
import re

_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")
_P31 = 2147483647


def build_incremental_case(seed):
    """(params, gen0_rows, batch_rows) for one acceptance-replay seed."""
    rng = random.Random(seed)
    n = rng.choice([1, 2, 3])
    num_perm = rng.choice([8, 16])
    bands = rng.choice([2, 4, 8])
    threshold = rng.choice([0.3, 0.5, 0.8])
    words = [f"w{i}" for i in range(25)]

    def mk(ln):
        return " ".join(rng.choice(words) for _ in range(ln))

    gen0 = [(i, mk(rng.randrange(max(n, 1), 14))) for i in range(rng.randrange(8, 20))]
    batch, bid = [], 1000
    for _ in range(rng.randrange(4, 10)):  # fresh docs
        batch.append((bid, mk(rng.randrange(1, 14)))); bid += 1
    for _ in range(rng.randrange(1, 5)):  # exact copies of history
        src = rng.choice(gen0)[1]
        # half re-spaced/cased: same fingerprint, different shingles
        t = src if rng.random() < 0.5 else " " + src.upper().replace(" ", " \t") + "  "
        batch.append((bid, t)); bid += 1
    for _ in range(rng.randrange(1, 5)):  # near-copies of history
        toks = rng.choice(gen0)[1].split()
        if rng.random() < 0.5:
            toks.append(rng.choice(words))
        else:
            toks[rng.randrange(len(toks))] = rng.choice(words)
        batch.append((bid, " ".join(toks))); bid += 1
    for _ in range(rng.randrange(1, 4)):  # within-batch exact dups
        batch.append((bid, rng.choice(batch)[1])); bid += 1
    for _ in range(rng.randrange(1, 4)):  # within-batch near dups
        toks = _WS_RE.split(rng.choice(batch)[1].strip())
        toks.append(rng.choice(words))
        batch.append((bid, " ".join(toks))); bid += 1
    if n > 1:  # sub-n-word doc: NULL sig, exact-only participant
        batch.append((bid, mk(n - 1))); bid += 1
    if rng.random() < 0.5:  # empty text: tokens == [""], fp == md5("")
        batch.append((bid, "")); bid += 1
    if rng.random() < 0.5:  # NULL text: NULL fp, bypasses canonical pass
        batch.append((bid, None)); bid += 1
    return (n, num_perm, bands, threshold), gen0, batch


def _py_incremental_accept(gen0, batch, n, num_perm, bands, threshold):
    """Sequential-replay reference of dedup_batch_against_index —
    fingerprints, shingles, signatures, banding, and the four-stage
    acceptance order recomputed in pure Python."""
    from etl_school_spark.dedup.minhash import perm_constants

    perms = perm_constants(num_perm)
    rpb = num_perm // bands

    def fp(t):
        if t is None:
            return None
        return hashlib.md5(_WS_RE.sub(" ", t.strip()).lower().encode()).hexdigest()

    def shingles(t):
        if t is None:
            return frozenset()
        toks = _WS_RE.split(t.strip())
        if len(toks) < n:
            return frozenset()
        return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))

    def sig(sh):
        if not sh:
            return None
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _P31 for s in sh]
        return [min((a * h + b) % _P31 for h in hs) for a, b in perms]

    def band_keys(sg):
        return [
            (bi, hashlib.md5(
                ",".join(str(v) for v in sg[bi * rpb:(bi + 1) * rpb]).encode()
            ).hexdigest())
            for bi in range(bands)
        ]

    def jac(a, b):
        i = len(a & b)
        return i / (len(a) + len(b) - i)

    g0 = {d: (fp(t), shingles(t)) for d, t in gen0}
    hist_fp = {f for f, _ in g0.values() if f is not None}
    hist_buckets: dict = {}
    for d, (_f, sh) in g0.items():
        sg = sig(sh)
        if sg is None:
            continue
        for key in band_keys(sg):
            hist_buckets.setdefault(key, set()).add(d)

    rows = [(d, fp(t), shingles(t)) for d, t in batch]
    # 1a: exact vs history (NULL fp never matches)
    s1 = [(d, f, sh) for d, f, sh in rows if f is None or f not in hist_fp]
    # 1b: within-batch exact — lowest id per fp; NULL-fp docs bypass
    canon: dict = {}
    for d, f, _sh in s1:
        if f is not None:
            canon[f] = min(canon.get(f, d), d)
    s1c = [(d, f, sh) for d, f, sh in s1 if f is None or canon[f] == d]
    # 2: near vs history — band collisions, exact-Jaccard verify
    s2 = []
    for d, f, sh in s1c:
        sg = sig(sh)
        hit = False
        if sg is not None:
            olds = set()
            for key in band_keys(sg):
                olds |= hist_buckets.get(key, set())
            hit = any(jac(sh, g0[o][1]) >= threshold for o in olds)
        if not hit:
            s2.append((d, f, sh))
    # 3: within-batch near-dup — buckets, verify, components, min-id
    buckets: dict = {}
    sh_of = {d: sh for d, _f, sh in s2}
    for d, _f, sh in s2:
        sg = sig(sh)
        if sg is None:
            continue
        for key in band_keys(sg):
            buckets.setdefault(key, set()).add(d)
    edges = set()
    for ds in buckets.values():
        ds = sorted(ds)
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                edges.add((ds[x], ds[y]))
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        if jac(sh_of[a], sh_of[b]) >= threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
    losers = {x for x in parent if find(x) != x}
    return {(d, f) for d, f, _sh in s2 if d not in losers}


@pytest.mark.parametrize("seed", list(range(12000, 12010)))
def test_random_incremental_dedup_matches_python(spark, seed):
    from etl_school_spark.dedup.incremental import (
        build_dedup_index,
        dedup_batch_against_index,
        release_batch_checkpoints,
    )

    (n, num_perm, bands, threshold), gen0, batch = build_incremental_case(seed)
    g0df = spark.createDataFrame(gen0, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    index = build_dedup_index(g0df, n=n, num_perm=num_perm).localCheckpoint(
        eager=False
    )
    accepted, idx_rows = dedup_batch_against_index(
        bdf, index, threshold=threshold, n=n, num_perm=num_perm, bands=bands
    )
    got = {(r.doc, r.fp) for r in idx_rows.select("doc", "fp").collect()}
    want = _py_incremental_accept(gen0, batch, n, num_perm, bands, threshold)
    release_batch_checkpoints(accepted, idx_rows)
    assert got == want, (
        f"seed {seed} n={n} perms={num_perm} bands={bands} t={threshold}: "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )


# ---------------------------------------------------------------------------
# Family 13 (r9): SemDeDup sweep vs the pure-Python reference. The fixed
# parametrized tests (test_similarity.py) pin two thresholds on the real
# embeddings table; this family sweeps n_cells / threshold / keep-rule
# over synthetic corpora with planted structure — exact copies (the
# cosine≈1 boundary), perturbed cluster members, singleton cells — so
# the cell-assignment ties, threshold boundary, and both survivor rules
# are exercised across random geometries. Training (train_centroids) is
# consumed as given per the semantic.py layering (it is oracle-pinned
# through ann_topk_ivf); everything downstream — assignment, pair
# detection, components, keep — is recomputed independently in Python
# with the same sequential fold order.
# ---------------------------------------------------------------------------
def build_semantic_case(seed):
    rng = random.Random(seed)
    n_cells = rng.choice([2, 4, 8])
    threshold = rng.choice([0.7, 0.9, 0.999999])
    keep = rng.choice(["min_id", "farthest"])
    # r10: the BLAS pair stage alternates in — same Python twin, so a
    # shortlist-margin or triangle-mask bug in blocked_pair_edges fails
    # the seed exactly like a join bug would. Tiny cell_block forces
    # multi-block tiling on these small corpora. The test reaches each
    # form through semantic.py's constants: GEMM_CELL_BOUND = 0 forces
    # sql, CELL_BLOCK sets the gemm tile.
    pair_form = rng.choice(["sql", "gemm"])
    cell_block = rng.choice([2, 3, 4096]) if pair_form == "gemm" else 4096
    dim = rng.choice([4, 8])
    rows, nid = [], 0
    for _c in range(rng.randrange(2, 6)):  # clusters
        center = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        for _m in range(rng.randrange(1, 6)):
            vec = [round(x + rng.uniform(-0.05, 0.05), 3) for x in center]
            rows.append((nid, vec)); nid += 1
    for _ in range(rng.randrange(0, 4)):  # planted exact copies
        rows.append((nid, list(rng.choice(rows)[1]))); nid += 1
    while len(rows) < n_cells:  # train contract: corpus >= n_cells
        rows.append((nid, [round(rng.uniform(-1, 1), 3) for _ in range(dim)]))
        nid += 1
    return n_cells, threshold, keep, pair_form, cell_block, rows


@pytest.mark.parametrize("seed", list(range(13000, 13008)))
def test_random_semantic_dedup_matches_python(spark, seed, monkeypatch):
    from etl_school_spark.similarity import semantic
    from etl_school_spark.similarity.ivf import train_centroids
    from etl_school_spark.similarity.semantic import semantic_dedup
    from tests.test_similarity import _py_semantic_dedup

    n_cells, threshold, keep, pair_form, cell_block, rows = build_semantic_case(seed)
    if pair_form == "sql":
        monkeypatch.setattr(semantic, "GEMM_CELL_BOUND", 0)
    monkeypatch.setattr(semantic, "CELL_BLOCK", cell_block)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.cell, r.component, r.keep)
        for r in semantic_dedup(
            df,
            threshold=threshold,
            n_cells=n_cells,
            keep=keep,
        ).collect()
    }
    # the reference consumes the FLOAT32-rounded vectors, exactly as the
    # engine's as_double cast sees them
    f32 = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in df.select("vec_id", "embedding").collect()
    }
    centroids = train_centroids(df, n_cells=n_cells)
    want = _py_semantic_dedup(sorted(f32.items()), centroids, threshold, keep)
    assert got == want, (
        f"seed {seed} cells={n_cells} t={threshold} keep={keep} "
        f"form={pair_form} block={cell_block}"
    )


# ---------------------------------------------------------------------------
# Family 14 (r11): quotient-components sweep. The three *_dup_groups
# operators claim components(quotient graph) == components(full pair
# graph) — star cliques for identical signatures/sets, one rep per
# distinct value through the ordinary pair machinery. Each seed samples
# a template-heavy corpus (exact-copy cliques stress the quotient
# collapse, near-dups stress rep pairs, background docs stress
# no-edge paths) and requires each groups operator to equal an
# INDEPENDENT pure-Python union-find over its sibling pair operator's
# output (the pair operators themselves are fuzzed by families 9/11 and
# the driver oracles).
# ---------------------------------------------------------------------------
def _py_components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for n in parent:
        out[n] = find(n)
    return {(n, c) for n, c in out.items()}


def build_quotient_case(seed):
    rng = random.Random(seed)
    words = [f"qw{i}" for i in range(30)]
    docs, next_id = [], 0
    for _f in range(rng.randrange(2, 6)):  # exact-copy cliques
        base = " ".join(rng.choice(words) for _ in range(rng.randrange(10, 20)))
        for _m in range(rng.randrange(2, 7)):
            docs.append((next_id, base))
            next_id += 1
        for _m in range(rng.randrange(0, 3)):  # near-dups of the base
            docs.append((next_id, base + f" tail{next_id}"))
            next_id += 1
    for _b in range(rng.randrange(5, 15)):  # background
        docs.append(
            (next_id, " ".join(rng.choice(words) for _ in range(rng.randrange(5, 12))))
        )
        next_id += 1
    docs.append((next_id, ""))  # empty text: out of contract everywhere
    threshold = rng.choice([0.5, 0.8])
    return docs, threshold


@pytest.mark.parametrize("seed", list(range(14000, 14004)))
def test_random_quotient_groups_match_python_components(spark, seed):
    from etl_school_spark.dedup.cluster import connected_components  # noqa: F401
    from etl_school_spark.dedup.minhash import minhash_dup_groups, minhash_lsh_pairs
    from etl_school_spark.dedup.ngram import ngram_dup_groups, ngram_jaccard_pairs
    from etl_school_spark.dedup.simhash import simhash_dup_groups, simhash_near_pairs

    docs, threshold = build_quotient_case(seed)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    cases = [
        (
            lambda: ngram_jaccard_pairs(df, threshold=threshold, n=3),
            lambda: ngram_dup_groups(df, threshold=threshold, n=3),
        ),
        (
            lambda: minhash_lsh_pairs(df, threshold=threshold, n=3),
            lambda: minhash_dup_groups(df, threshold=threshold, n=3),
        ),
        (
            lambda: simhash_near_pairs(df, max_hamming=3, chunks=4),
            lambda: simhash_dup_groups(df, max_hamming=3, chunks=4),
        ),
    ]
    for i, (pairs_fn, groups_fn) in enumerate(cases):
        pairs = [(r.id_a, r.id_b) for r in pairs_fn().select("id_a", "id_b").collect()]
        want = _py_components(pairs)
        got = {(r.node, r.component) for r in groups_fn().collect()}
        assert got == want, (
            f"seed {seed} case {i} t={threshold}: "
            f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
        )


@pytest.mark.parametrize("seed", [14500])
def test_random_quotient_groups_with_session_checkpoint_dir(spark, seed, request):
    """r13 (r12 VERDICT item 3): one family-14 corpus run with the
    durable-checkpoint session conf set — every truncation point inside
    components/quotient becomes a RELIABLE Dataset.checkpoint (the real-
    cluster posture) and the labels must still match the pure-Python
    union-find over the sibling pair operator, on both dispatch
    branches."""
    from etl_school_spark.dedup.ngram import ngram_dup_groups, ngram_jaccard_pairs

    docs, threshold = build_quotient_case(seed)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = [
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=threshold, n=3)
        .select("id_a", "id_b")
        .collect()
    ]
    want = _py_components(pairs)
    ckpt = request.getfixturevalue("durable_checkpoints")
    got_union = {
        (r.node, r.component)
        for r in ngram_dup_groups(df, threshold=threshold, n=3).collect()
    }
    got_deferred = {
        (r.node, r.component)
        for r in ngram_dup_groups(
            df, threshold=threshold, n=3, collect_cap=0
        ).collect()
    }
    assert got_union == want == got_deferred, f"seed {seed} t={threshold}"
    files = list(ckpt.rglob("*"))
    assert any(f.is_file() for f in files), "no reliable checkpoint written"


def build_megaclique_case(seed):
    """r12 (VERDICT item 2): weight the corpus toward ONE giant
    exact-dup clique plus many singletons — the skew regime the
    groupBy+join rep selection exists for (the set/sig-key Window form
    this replaced funneled the whole clique through one task). The
    giant clique exercises the map-side collapse and the skewed star
    join-back; the singletons exercise the no-edge path around it."""
    rng = random.Random(seed)
    words = [f"mw{i}" for i in range(40)]
    base = " ".join(rng.choice(words) for _ in range(rng.randrange(12, 20)))
    docs, next_id = [], 0
    for _m in range(rng.randrange(300, 500)):  # the giant clique
        docs.append((next_id, base))
        next_id += 1
    for _m in range(rng.randrange(2, 5)):  # a few near-dups of the base
        docs.append((next_id, base + f" tail{next_id}"))
        next_id += 1
    for _s in range(rng.randrange(40, 80)):  # singletons
        docs.append(
            (next_id, " ".join(rng.choice(words) for _ in range(rng.randrange(6, 12))))
        )
        next_id += 1
    threshold = rng.choice([0.5, 0.8])
    return docs, threshold


@pytest.mark.parametrize("seed", list(range(14200, 14202)))
def test_megaclique_quotient_groups_match_python_components(spark, seed):
    from etl_school_spark.dedup.minhash import minhash_dup_groups, minhash_lsh_pairs
    from etl_school_spark.dedup.ngram import ngram_dup_groups, ngram_jaccard_pairs
    from etl_school_spark.dedup.simhash import simhash_dup_groups, simhash_near_pairs

    docs, threshold = build_megaclique_case(seed)
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # the PAIR graph of a ~400-member clique is ~80k edges — fine for the
    # python union-find, and exactly the quadratic blow-up the quotient
    # collapses before its own pair stage
    cases = [
        (
            lambda: ngram_jaccard_pairs(df, threshold=threshold, n=3),
            lambda: ngram_dup_groups(df, threshold=threshold, n=3),
        ),
        (
            lambda: minhash_lsh_pairs(
                df, threshold=threshold, n=3, hot_band_threshold=None
            ),
            lambda: minhash_dup_groups(df, threshold=threshold, n=3),
        ),
        (
            lambda: simhash_near_pairs(df, max_hamming=3, chunks=4),
            lambda: simhash_dup_groups(df, max_hamming=3, chunks=4),
        ),
    ]
    for i, (pairs_fn, groups_fn) in enumerate(cases):
        pairs = [(r.id_a, r.id_b) for r in pairs_fn().select("id_a", "id_b").collect()]
        want = _py_components(pairs)
        got = {(r.node, r.component) for r in groups_fn().collect()}
        assert got == want, (
            f"seed {seed} case {i} t={threshold}: "
            f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
        )
