"""DQ + privacy layer tests (G2/G3/G5/G6/G7/G8)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _cc(spark, n=200):
    from etl_school_spark.sources.generator import gen_cc_events
    from etl_school_spark.streaming.pipelines import flatten_cc_payload

    raw = spark.createDataFrame(gen_cc_events(n, seed=9))
    return flatten_cc_payload(raw)


def test_dq_metrics_and_alerts(spark, tmp_path):
    from etl_school_spark.quality import DqRule, dq_alerts, run_dq
    from tests.jobcount import count_jobs

    df = _cc(spark)
    rules = [
        DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.00),
        DqRule("amount_ok", F.col("amount").between(0, 50000), 0.95),
        DqRule("currency_ok", F.col("currency") == "USD", 0.99),
        DqRule("approved_rate", F.col("approved"), 0.99),  # ~10/11 → breaches
    ]
    metrics_dir = str(tmp_path / "metrics")
    m = run_dq(spark, df, rules, metrics_dir)
    with count_jobs(spark) as jobs:  # the suite was aggregated once, in run_dq
        vals = {r.metric_name: r.metric_value for r in m.collect()}
    assert jobs.n == 0
    assert sorted(spark.read.parquet(metrics_dir).collect()) == sorted(m.collect())
    assert vals["non_null_txn_id"] == 1.0
    assert vals["amount_ok"] == 1.0
    assert 0.8 < vals["approved_rate"] < 1.0

    alerts = dq_alerts(spark, spark.read.parquet(metrics_dir), rules)
    assert {r.metric_name for r in alerts.collect()} == {"approved_rate"}


def test_latest_metrics_picks_newest(spark, tmp_path):
    from etl_school_spark.quality import DqRule, latest_metrics, run_dq

    df = _cc(spark, 50)
    rules = [DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.0)]
    metrics_dir = str(tmp_path / "metrics")
    run_dq(spark, df, rules, metrics_dir)
    run_dq(spark, df, rules, metrics_dir)
    latest = latest_metrics(spark.read.parquet(metrics_dir))
    assert latest.count() == 1


def test_masked_views_per_role(spark):
    from etl_school_spark.privacy import masked_view

    df = _cc(spark, 30).select("txn_id", "card_number", "amount")
    admin = masked_view(df, "admin", ["card_number"]).collect()
    analyst = masked_view(df, "analyst", ["card_number"]).collect()
    auditor = masked_view(df, "auditor", ["card_number"]).collect()
    other = masked_view(df, "intern", ["card_number"]).collect()

    raw = {r.txn_id: r.card_number for r in admin}
    for r in analyst:
        assert r.card_number.startswith("************")
        assert r.card_number[-4:] == raw[r.txn_id][-4:]
    for r in auditor:
        assert "..." in r.card_number and r.card_number[-4:] == raw[r.txn_id][-4:]
    assert {r.card_number for r in other} == {"MASKED"}
    # non-masked columns untouched in every role
    assert {r.amount for r in analyst} == {r.amount for r in admin}


def test_anonymize_is_irreversible_projection(spark):
    from etl_school_spark.privacy import anonymize

    df = _cc(spark, 30).select("txn_id", "card_number", "merchant_id")
    out = anonymize(df, "card_number", "merchant_id").collect()
    assert all(len(r.card_number) == 64 for r in out)  # sha2-256 hex
    assert all(0 <= r.merchant_id < 100 for r in out)  # bucketed


def test_pii_registry(spark):
    from etl_school_spark.privacy import pii_classification

    reg = pii_classification(spark)
    assert reg.filter("masking_required").count() == reg.count()
    assert reg.filter("column_name = 'card_number'").collect()[0].pii_type == "PAN"


def test_dashboard_panels(spark):
    from etl_school_spark.app.dashboard import Dashboard
    from etl_school_spark.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    d = (
        Dashboard(orders, "o_totalprice", ["o_orderpriority", "o_orderstatus"])
        .filter_isin("o_orderstatus", ["O", "F"])
        .filter_range("o_totalprice", lo=10000)
        .filter_time("o_orderdate", "1995-01-01", "2000-01-01")
    )
    m = d.metrics()
    assert m["rows"] > 0 and m["total"] > 0 and m["avg"] > 0
    top = d.top_breakdown("o_orderpriority", 3).collect()
    assert len(top) == 3
    assert top[0].n >= top[-1].n
    csv = d.export(["o_orderkey", "o_totalprice"], limit=10)
    assert csv.splitlines()[0] == "o_orderkey,o_totalprice"
    opts = d.filter_options("o_orderstatus")
    assert opts == sorted(opts)


def test_streaming_dq_per_batch_metrics(spark, tmp_path):
    """DQ rules run on each micro-batch; metrics accumulate per batch and
    alerting works off the latest values."""
    import json as _json
    import os

    from etl_school_spark.quality import DqRule, dq_alerts, latest_metrics
    from etl_school_spark.quality import streaming_dq
    from etl_school_spark.schemas import CC_PAYLOAD
    from etl_school_spark.sources.generator import gen_cc_events
    from etl_school_spark.streaming.pipelines import flatten_cc_payload

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    for i in range(2):
        p = os.path.join(stage, f"b{i}.json")
        with open(p, "w") as fh:
            for e in gen_cc_events(40, seed=50 + i):
                fh.write(_json.dumps(e) + "\n")
        os.utime(p, (1700000000 + i * 60,) * 2)

    rules = [
        DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.00),
        DqRule("approved_rate", F.col("approved"), 0.999),
    ]
    metrics_dir = str(tmp_path / "metrics")
    streaming_dq(
        spark, stage, CC_PAYLOAD, rules, metrics_dir, str(tmp_path / "ckpt"),
        transform=flatten_cc_payload,
    )
    m = spark.read.parquet(metrics_dir)
    assert m.filter("metric_name = 'non_null_txn_id'").count() == 2  # one per batch
    assert set(m.select("metric_group").distinct().toPandas().metric_group) == {"stream_dq"}
    alerts = dq_alerts(spark, m, rules)
    assert {r.metric_name for r in alerts.collect()} <= {"approved_rate"}
    assert latest_metrics(m).count() == 2  # one latest row per metric


def test_observed_write_single_pass_metrics(spark, tmp_path):
    """Metrics computed during the write job equal post-hoc computation."""
    from etl_school_spark.quality import DqRule, observed_write

    df = _cc(spark, 100)
    rules = [
        DqRule("non_null_txn_id", F.col("txn_id").isNotNull(), 1.0),
        DqRule("amount_ok", F.col("amount").between(0, 50000), 0.95),
    ]
    path = str(tmp_path / "observed")
    got = observed_write(df, path, rules)
    assert got["_rows"] == 100
    assert got["non_null_txn_id"] == 1.0

    written = spark.read.parquet(path)
    assert written.count() == 100
    posthoc = written.agg(
        F.avg(F.when(F.col("amount").between(0, 50000), 1.0).otherwise(0.0))
    ).collect()[0][0]
    assert abs(got["amount_ok"] - posthoc) < 1e-12


def test_scrub_pii_redacts_and_counts(spark):
    """Corpus scrubbing: typed placeholders replace every PII span, the
    audit counts match the spans, and clean prose is untouched."""
    from etl_school_spark.privacy import scrub_corpus

    rows = [
        (1, "contact me at alice.smith+work@example.co.uk for details"),
        (2, "docs at https://spark.apache.org/docs/latest?q=1 and http://a.io/x"),
        (3, "server 192.168.0.1 replied; call +1 (555) 123-4567 now"),
        (4, "no secrets here, just prose with numbers 12 and 345"),
        (5, "mixed: bob@corp.io visits https://corp.io/u?e=bob@corp.io daily"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_corpus(df).collect()}

    assert out[1].n_email == 1 and "<EMAIL>" in out[1].text
    assert "alice" not in out[1].text and "@" not in out[1].text
    assert out[2].n_url == 2 and out[2].text.count("<URL>") == 2
    assert out[3].n_ipv4 == 1 and out[3].n_phone == 1
    assert "<IPV4>" in out[3].text and "<PHONE>" in out[3].text
    assert "555" not in out[3].text and "192.168" not in out[3].text
    # clean prose passes through byte-identical
    assert out[4].text == rows[3][1]
    assert out[4].n_email == out[4].n_url == out[4].n_ipv4 == out[4].n_phone == 0
    # URL-embedded email disappears WITH the url (order: url before email);
    # the bare email is still redacted separately
    assert out[5].n_url == 1 and "<URL>" in out[5].text
    assert "bob@corp.io" not in out[5].text and "<EMAIL>" in out[5].text
    # counts are taken on the progressively-redacted text, so the
    # URL-embedded email copy counts as <URL> only — each n_* equals the
    # number of placeholders of that category actually emitted
    assert out[5].n_email == 1 and out[5].text.count("<EMAIL>") == 1
    for r in out.values():
        for cat in ("url", "email", "ipv4", "phone"):
            assert r[f"n_{cat}"] == r.text.count(f"<{cat.upper()}>")


def test_scrub_pii_is_pure_jvm_and_streaming_safe(spark, tmp_path):
    """The scrubbing projection contains no Python evaluation and runs
    unchanged on a readStream source (the 100 TB posture: scan -> redact
    -> write, no shuffle, no state)."""
    from etl_school_spark.privacy import scrub_corpus

    df = spark.createDataFrame([(1, "a@b.co x")], "doc_id long, text string")
    plan = scrub_corpus(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan

    src = tmp_path / "in"
    src.mkdir()
    df.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        scrub_corpus(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out_dir)).collect()
    assert len(got) == 1 and "<EMAIL>" in got[0].text


def test_text_pii_scrub_query_plants_and_redacts(spark):
    """r14: the registered text_pii_scrub query. The synthetic corpus has
    zero PII-shaped spans (verified at sf0.01), so the query plants one
    deterministic span per category per doc before scrubbing — this test
    pins that every planted span is counted AND gone from the redacted
    text, so the driver's hash compare is checking real redaction, not a
    no-op projection."""
    import re

    from etl_school_spark.privacy import PII_PATTERNS
    from etl_school_spark.workload.textops import text_pii_scrub

    rows = text_pii_scrub(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        # exactly the planted span per category (corpus contributes none)
        assert (r.n_url, r.n_email, r.n_ipv4, r.n_phone) == (1, 1, 1, 1), r.doc_id
        for name in PII_PATTERNS:
            assert f"<{name.upper()}>" in r.redacted, (r.doc_id, name)
        # nothing PII-shaped survives redaction
        for name, rx in PII_PATTERNS.items():
            assert not re.search(rx, r.redacted), (r.doc_id, name)
