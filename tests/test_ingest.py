"""Batch ingest tests: JSON-lines reader, corrupt capture, copy_into."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from etl_school_spark.schemas import CLIENT_BUY_ORDERS


def _write_orders_json(spark, path, n=25, corrupt=0, seed=42):
    from etl_school_spark.sources.generator import gen_buy_orders

    rows = gen_buy_orders(spark, n, seed=seed).collect()
    with open(path, "w") as fh:
        for r in rows:
            d = r.asDict(recursive=True)
            d["purchase_time"] = d["purchase_time"].isoformat()
            fh.write(json.dumps(d) + "\n")
        for i in range(corrupt):
            fh.write("{this is not json%d\n" % i)
    return n


def test_read_stage_json_with_corrupt_capture(spark, tmp_path):
    """A JSON stage read adds the capture column to a plain schema, so
    unparseable lines are counted apart instead of loading as NULL rows."""
    from etl_school_spark.sources.readers import read_stage, split_corrupt

    p = str(tmp_path / "orders.json")
    _write_orders_json(spark, p, n=20, corrupt=3)
    df = read_stage(spark, p, CLIENT_BUY_ORDERS)
    good, bad = split_corrupt(df)
    assert good.count() == 20
    assert bad.count() == 3
    # nested optional structs survive with nulls intact
    assert good.filter(F.col("address").isNotNull()).count() > 0
    assert good.filter(F.col("address.city").isNotNull()).count() > 0


def test_read_gzip_json(spark, tmp_path):
    """S19: .json.gz replay files read natively."""
    from etl_school_spark.sources.readers import read_stage, split_corrupt

    plain = str(tmp_path / "orders.json")
    _write_orders_json(spark, plain, n=15)
    gz = str(tmp_path / "orders.json.gz")
    with open(plain, "rb") as src, gzip.open(gz, "wb") as dst:
        dst.write(src.read())
    good, _ = split_corrupt(read_stage(spark, gz, CLIENT_BUY_ORDERS))
    assert good.count() == 15


def test_copy_into_appends_and_purges(spark, tmp_path):
    from etl_school_spark.sources.writers import copy_into

    stage = str(tmp_path / "stage")
    target = str(tmp_path / "table")
    os.makedirs(stage)
    _write_orders_json(spark, os.path.join(stage, "batch_1.json"), n=10)
    _write_orders_json(spark, os.path.join(stage, "batch_2.json"), n=5)

    n = copy_into(spark, stage, target, CLIENT_BUY_ORDERS, pattern="batch_*.json")
    assert n == 15
    assert spark.read.parquet(target).count() == 15
    assert not [f for f in os.listdir(stage) if f.startswith("batch_")]  # purged

    # idempotent re-run: stage is empty, nothing loads
    assert copy_into(spark, stage, target, CLIENT_BUY_ORDERS, pattern="batch_*.json") == 0
    assert spark.read.parquet(target).count() == 15


def test_copy_into_twice_from_one_stage_dir(spark, tmp_path):
    """A second load from the same stage dir and schema reads its own files,
    not the parse the first load cached."""
    from pyspark.sql.types import StringType, StructField, StructType

    from etl_school_spark.sources.readers import CORRUPT_COL
    from etl_school_spark.sources.writers import copy_into

    schema = StructType(list(CLIENT_BUY_ORDERS.fields) + [StructField(CORRUPT_COL, StringType())])
    stage, target = str(tmp_path / "stage"), str(tmp_path / "table")
    os.makedirs(stage)
    batches = []
    for i, n in enumerate((12, 7)):
        p = os.path.join(stage, f"batch_{i}.json")
        _write_orders_json(spark, p, n=n, corrupt=1, seed=i)
        with open(p) as fh:
            batches.append([ln for ln in fh if ln.startswith('{"')])
        assert copy_into(spark, stage, target, schema) == n
    want = sorted(json.loads(ln)["txid"] for b in batches for ln in b)
    assert sorted(r.txid for r in spark.read.parquet(target).select("txid").collect()) == want
    assert len(set(want)) == len(want)  # the batches share no txid
    assert spark.read.json(target + "__rejects").count() == 2


def test_generator_deterministic_and_dimensional(spark):
    from etl_school_spark.sources.generator import car_catalog, gen_buy_orders

    a = gen_buy_orders(spark, 30).collect()
    b = gen_buy_orders(spark, 30).collect()
    assert [r.txid for r in a] == [r.txid for r in b]
    models = {r.car_model for r in a}
    catalog = {r.car_model for r in car_catalog(spark).collect()}
    assert models <= catalog
    # dimension lookup filled brand/horsepower/sell_price
    assert all(r.brand and r.horsepower and r.sell_price for r in a)


def test_copy_history_audit_and_rollup(spark, tmp_path):
    """copy_into with history_dir appends a copy_history row per load;
    rollup aggregates volumes (A4:706-712 analog)."""
    from etl_school_spark.schemas import CLIENT_BUY_ORDERS
    from etl_school_spark.sources.generator import gen_buy_orders
    from etl_school_spark.sources.writers import copy_history_rollup, copy_into

    stage = str(tmp_path / "stage")
    target = str(tmp_path / "orders")
    hist = str(tmp_path / "copy_history")
    for i in range(2):
        gen_buy_orders(spark, 30, seed=i).write.mode("overwrite").json(stage)
        n = copy_into(spark, stage, target, CLIENT_BUY_ORDERS, history_dir=hist)
        assert n == 30
    roll = copy_history_rollup(spark, hist).collect()
    assert len(roll) == 1
    assert roll[0].n_loads == 2 and roll[0].total_rows == 60
    assert roll[0].total_bytes > 0


def test_compaction_shrinks_files_keeps_data(spark, tmp_path):
    from etl_school_spark.sources.writers import compact_parquet_dir
    from etl_school_spark.tables import load_table

    table = str(tmp_path / "frag")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # simulate a streaming sink: many tiny files
    ev.repartition(40).write.parquet(table)
    before_count = spark.read.parquet(table).count()
    n_before, n_after = compact_parquet_dir(spark, table, target_file_mb=128)
    assert n_before >= 40 and n_after < n_before
    after = spark.read.parquet(table)
    assert after.count() == before_count


def test_conform_to_schema_evolution(spark):
    """Producers adding/reordering/dropping fields don't break the load."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_school_spark.sources.readers import conform_to_schema

    declared = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("extra_metric", LongType()),
        ]
    )
    evolved = spark.createDataFrame(
        [("7", "a", "surprise")], "id string, name string, new_field string"
    )
    out = conform_to_schema(evolved, declared)
    assert out.schema == declared
    row = out.collect()[0]
    assert row.id == 7 and row.name == "a" and row.extra_metric is None


def test_forget_keys_erasure(spark):
    from etl_school_spark.privacy import forget_keys
    from etl_school_spark.tables import load_table

    cust = load_table(spark, "/root/testdata/sf0.001", "customer")
    doomed = [r.c_custkey for r in cust.limit(5).collect()]
    out = forget_keys(cust, "c_custkey", doomed)
    assert out.count() == cust.count() - 5
    assert out.filter(out.c_custkey.isin(doomed)).count() == 0


def test_merge_upsert_replaces_and_appends(spark, tmp_path):
    from etl_school_spark.sources.writers import merge_upsert

    table = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    merge_upsert(spark, table, base, "id")
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    n_upd, total = merge_upsert(spark, table, updates, "id")
    assert (n_upd, total) == (2, 4)
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_copy_into_rejects_corrupt_lines_with_plain_schema(spark, tmp_path):
    """Without the capture column in the caller's schema, unparseable lines
    still go to the rejects dir instead of loading as all-NULL rows."""
    from etl_school_spark.sources.writers import copy_into

    stage, target, hist = (str(tmp_path / d) for d in ("stage", "table", "copy_history"))
    os.makedirs(stage)
    _write_orders_json(spark, os.path.join(stage, "batch.json"), n=10, corrupt=2)
    assert copy_into(spark, stage, target, CLIENT_BUY_ORDERS, history_dir=hist) == 10
    loaded = spark.read.parquet(target)
    assert loaded.columns == CLIENT_BUY_ORDERS.fieldNames()
    assert loaded.count() == 10 and loaded.filter(F.col("txid").isNull()).count() == 0
    rejects = [json.loads(r.value) for r in spark.read.text(target + "__rejects").collect()]
    assert sorted(r["_corrupt_record"] for r in rejects) == ["{this is not json0", "{this is not json1"]
    assert spark.read.parquet(hist).collect()[0].rows_rejected == 2


def test_copy_into_and_merge_upsert_job_counts(spark, tmp_path):
    """Pins the Spark jobs of a load and a merge, on the first write and on
    a write into an existing table. copy_into: one counting aggregation
    over the cached parse, the good write and the rejects write; the
    history row is appended on the driver. merge_upsert: the write alone
    on a first load; into an existing table, the update-key broadcast and
    the write. The table's schema comes from its footer on the driver
    (``read_table``), the keys are not deduplicated by an exchange, and
    the counts come from observations on the write, not from extra jobs."""
    from etl_school_spark.sources.writers import copy_into, merge_upsert
    from tests.jobcount import count_jobs

    stage, target, hist = (str(tmp_path / d) for d in ("stage", "table", "copy_history"))
    os.makedirs(stage)
    for i in range(2):
        _write_orders_json(spark, os.path.join(stage, f"batch_{i}.json"), n=8, corrupt=1, seed=i)
        with count_jobs(spark) as jobs:
            assert copy_into(spark, stage, target, CLIENT_BUY_ORDERS, history_dir=hist) == 8
        assert jobs.n == 5, f"copy_into load {i}: {jobs.n} jobs"

    table = str(tmp_path / "keyed")
    for i, want in enumerate([(5, 5), (5, 7)]):
        rows = [(k, f"v{i}") for k in range(2 * i, 2 * i + 5)]
        updates = spark.createDataFrame(rows, "id long, v string")
        with count_jobs(spark) as jobs:
            assert merge_upsert(spark, table, updates, "id") == want
        assert jobs.n == (1, 2)[i], f"merge_upsert {i}: {jobs.n} jobs"


def _crash_once(monkeypatch, obj, name):
    """Make ``obj.name`` raise on its first call, as a crash would."""
    real = getattr(obj, name)
    calls = []

    def crash(*args, **kwargs):
        if not calls:
            calls.append(args)
            raise OSError(f"injected crash in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(obj, name, crash)
    return calls


@pytest.mark.parametrize("step", ["rename", "move", "rmtree"])
def test_merge_upsert_recovers_from_crash_mid_swap(spark, tmp_path, monkeypatch, step):
    """A crash before each step of the swap (rename table aside, move the
    new version in, delete the old one) loses no committed row: the next
    merge restores a lone ``__old`` before it reads the table."""
    import shutil

    from etl_school_spark.sources.writers import merge_upsert

    schema = "id long, v string"
    table = str(tmp_path / "keyed")
    merge_upsert(spark, table, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema), "id")
    calls = _crash_once(monkeypatch, os if step == "rename" else shutil, step)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert(spark, table, spark.createDataFrame([(2, "b2"), (4, "d")], schema), "id")
    monkeypatch.undo()
    first_arg = {"rename": table, "move": table + "__new", "rmtree": table + "__old"}[step]
    assert [c[0] for c in calls] == [first_arg]  # the crash hit the swap step named

    merge_upsert(spark, table, spark.createDataFrame([(5, "e")], schema), "id")
    got = {r.id: r.v for r in spark.read.parquet(table).collect()}
    if step == "rmtree":  # the crashed merge had committed: its rows stay
        assert got == {1: "a", 2: "b2", 3: "c", 4: "d", 5: "e"}
    else:  # it had not: the table is as before it, plus the next merge
        assert got == {1: "a", 2: "b", 3: "c", 5: "e"}
    assert not os.path.exists(table + "__old")


def _retention_table(spark, path):
    """20 rows ten days apart, ending at 2026-01-01: ids 0..9 are inside a
    90-day window. Returns the sweep's ``now_ts``."""
    import datetime

    now = datetime.datetime(2026, 1, 1)
    rows = [(i, now - datetime.timedelta(days=i * 10)) for i in range(20)]
    spark.createDataFrame(rows, "id long, ts timestamp_ntz").write.parquet(path)
    return now.timestamp()


@pytest.mark.parametrize("step", ["rename", "move", "rmtree"])
def test_retention_sweep_recovers_from_crash_mid_swap(spark, tmp_path, monkeypatch, step):
    """A crash before each step of the retention rewrite's swap keeps every
    retained row: the next sweep restores a lone ``__old`` before it reads
    the table, and keeps the same rows."""
    import shutil

    from etl_school_spark.orchestrate import retention_sweep

    table = str(tmp_path / "t")
    now_ts = _retention_table(spark, table)
    calls = _crash_once(monkeypatch, os if step == "rename" else shutil, step)
    with pytest.raises(OSError, match="injected crash"):
        retention_sweep(spark, table, "ts", keep_days=90, now_ts=now_ts)
    monkeypatch.undo()
    first_arg = {"rename": table, "move": table + "__new", "rmtree": table + "__old"}[step]
    assert [c[0] for c in calls] == [first_arg]  # the crash hit the swap step named

    assert retention_sweep(spark, table, "ts", keep_days=90, now_ts=now_ts) == 10
    assert sorted(r.id for r in spark.read.parquet(table).collect()) == list(range(10))
    assert not os.path.exists(table + "__old")


def test_retention_sweep_job_count(spark, tmp_path):
    """A sweep runs one job: the rewrite, on which an observation counts
    the retained rows. The table's footer schema is read on the driver,
    and there is no separate count job over a cached frame."""
    from etl_school_spark.orchestrate import retention_sweep
    from tests.jobcount import count_jobs

    table = str(tmp_path / "t")
    now_ts = _retention_table(spark, table)
    with count_jobs(spark) as jobs:
        assert retention_sweep(spark, table, "ts", keep_days=90, now_ts=now_ts) == 10
    assert jobs.n == 1, f"retention_sweep: {jobs.n} jobs"


def test_compact_recovers_from_crash_mid_swap(spark, tmp_path, monkeypatch):
    import shutil

    from etl_school_spark.sources.writers import compact_parquet_dir

    table = str(tmp_path / "t")
    spark.range(0, 300, numPartitions=6).write.parquet(table)
    _crash_once(monkeypatch, shutil, "move")
    with pytest.raises(OSError, match="injected crash"):
        compact_parquet_dir(spark, table)
    monkeypatch.undo()
    assert not os.path.exists(table)  # the crash left only __old

    assert compact_parquet_dir(spark, table) == (6, 1)
    assert sorted(r.id for r in spark.read.parquet(table).collect()) == list(range(300))
    assert not os.path.exists(table + "__old")


def test_compact_job_count(spark, tmp_path):
    """Compacting an 8-file table runs two jobs: the repartition's exchange
    and the write. Its schema comes from a footer read on the driver."""
    from etl_school_spark.sources.writers import compact_parquet_dir
    from tests.jobcount import count_jobs

    table = str(tmp_path / "t")
    spark.range(0, 400, numPartitions=8).write.parquet(table)
    with count_jobs(spark) as jobs:
        assert compact_parquet_dir(spark, table) == (8, 1)
    assert jobs.n == 2, f"compact_parquet_dir: {jobs.n} jobs"
    assert sorted(r.id for r in spark.read.parquet(table).collect()) == list(range(400))


AUDIT_DDL = "s string, n long, d double, ts timestamp_ntz, e string, i int"


def _audit_rows(k):
    import datetime

    return [
        (f"r{k}", k, k + 0.5, datetime.datetime(2024, 2, 29, 23, 59, 59, 123456 + k), None, k),
        (None, None, None, None, f"x{k}", None),
    ]


@pytest.fixture
def new_york_session(spark):
    """The session time zone set to a non-UTC zone for one test."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", tz)


def test_append_rows_runs_no_job_and_round_trips(new_york_session, tmp_path):
    """append_rows writes on the driver (no Spark job) and its rows read
    back with their exact Spark types — nulls and timestamp_ntz wall-clock
    values — through a bare Spark read and through read_table."""
    from pyspark.sql.types import StructType

    from etl_school_spark.sources.writers import append_rows, read_table
    from tests.jobcount import count_jobs

    spark, table = new_york_session, str(tmp_path / "audit")
    for k in range(2):
        with count_jobs(spark) as jobs:
            df = append_rows(spark, table, _audit_rows(k), AUDIT_DDL)
        assert jobs.n == 0, f"append_rows: {jobs.n} jobs"
        assert [tuple(r) for r in df.collect()] == _audit_rows(k)
    want = sorted(_audit_rows(0) + _audit_rows(1), key=repr)
    for back in (spark.read.parquet(table), read_table(spark, table)):
        assert back.schema == StructType.fromDDL(AUDIT_DDL)
        assert sorted((tuple(r) for r in back.collect()), key=repr) == want


def _crash_mid_append(monkeypatch, step, at_crash):
    """Make ``append_rows`` crash once at ``step``: ``write_table`` leaves
    the first half of the file at the path it was given, ``rename`` fails
    before it moves the file. ``at_crash()`` runs just before the raise, so
    it sees what a killed process would leave behind, before any cleanup.
    Returns the list of crashed calls."""
    import pyarrow.parquet as pq

    obj = pq if step == "write_table" else os
    real, calls = getattr(obj, step), []

    def crash(*args, **kwargs):
        if calls:
            return real(*args, **kwargs)
        calls.append(args)
        if step == "write_table":
            real(*args, **kwargs)
            with open(args[1], "r+b") as fh:
                fh.truncate(os.path.getsize(args[1]) // 2)
        at_crash()
        raise OSError(f"injected crash in {step}")

    monkeypatch.setattr(obj, step, crash)
    return calls


@pytest.mark.parametrize("step", ["write_table", "rename"])
def test_append_rows_crash_leaves_only_committed_rows(spark, tmp_path, monkeypatch, step):
    """A crash while append_rows writes its file, or before the file is
    renamed into place, adds no row: at the moment of the crash and after
    it, the table reads back with the rows of earlier appends only, and
    the next append succeeds."""
    from etl_school_spark.sources.writers import append_rows, read_table

    table = str(tmp_path / "audit")

    def rows():
        return [sorted((tuple(r) for r in df.collect()), key=repr)
                for df in (spark.read.parquet(table), read_table(spark, table))]

    append_rows(spark, table, _audit_rows(0), AUDIT_DDL)
    committed = [sorted(_audit_rows(0), key=repr)] * 2
    seen = []
    calls = _crash_mid_append(monkeypatch, step, lambda: seen.append(rows()))
    with pytest.raises(OSError, match="injected crash"):
        append_rows(spark, table, _audit_rows(1), AUDIT_DDL)
    monkeypatch.undo()
    assert len(calls) == 1  # the crash hit the step named
    assert seen == [committed]
    assert rows() == committed
    append_rows(spark, table, _audit_rows(2), AUDIT_DDL)
    assert rows() == [sorted(_audit_rows(0) + _audit_rows(2), key=repr)] * 2


def test_append_rows_joins_a_spark_written_table(spark, tmp_path):
    """Files Spark's own writer appended (as append_rows did before it
    wrote on the driver) and driver-written files read as one table."""
    from pyspark.sql.types import StructType

    from etl_school_spark.session import local_frame
    from etl_school_spark.sources.writers import append_rows, read_table

    table = str(tmp_path / "task_history")
    local_frame(spark, _audit_rows(0), AUDIT_DDL).coalesce(1).write.mode("append").parquet(table)
    append_rows(spark, table, _audit_rows(1), AUDIT_DDL)
    local_frame(spark, _audit_rows(2), AUDIT_DDL).coalesce(1).write.mode("append").parquet(table)
    want = sorted(_audit_rows(0) + _audit_rows(1) + _audit_rows(2), key=repr)
    for back in (spark.read.parquet(table), read_table(spark, table)):
        assert back.schema == StructType.fromDDL(AUDIT_DDL)
        assert sorted((tuple(r) for r in back.collect()), key=repr) == want


def test_read_table_takes_the_footer_schema_without_a_job(spark, tmp_path):
    """On a Spark-written table, read_table gives the schema and rows a
    bare read gives, but the bare read runs a job to infer the schema."""
    from etl_school_spark.sources.writers import read_table
    from tests.jobcount import count_jobs

    table = str(tmp_path / "t")
    spark.range(0, 50, numPartitions=4).selectExpr("id", "cast(id as string) s").write.parquet(table)
    with count_jobs(spark) as bare_jobs:
        bare = spark.read.parquet(table)
    with count_jobs(spark) as jobs:
        df = read_table(spark, table)
    assert (bare_jobs.n, jobs.n) == (1, 0)
    assert df.schema == bare.schema
    assert sorted(df.collect()) == sorted(bare.collect())


def test_read_table_without_a_spark_schema_reads_as_spark_does(spark, tmp_path):
    """A table whose footer holds no Spark schema (written by another
    tool), or one with partition subdirectories, is read by Spark's own
    inference: same schema and rows as a bare read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_school_spark.sources.writers import read_table

    foreign = str(tmp_path / "foreign")
    os.makedirs(foreign)
    pq.write_table(
        pa.table({"k": pa.array([1, 2, None], pa.int16()), "u": pa.array(["a", None, "c"])}),
        os.path.join(foreign, "part-0.parquet"),
    )
    parted = str(tmp_path / "parted")
    spark.range(0, 20).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(parted)
    for table in (foreign, parted):
        bare, df = spark.read.parquet(table), read_table(spark, table)
        assert df.schema == bare.schema
        assert sorted(df.collect(), key=repr) == sorted(bare.collect(), key=repr)
    assert spark.read.parquet(foreign).schema.simpleString() == "struct<k:smallint,u:string>"
    assert "p" in read_table(spark, parted).columns


def test_merge_upsert_matches_columns_by_name(spark, tmp_path):
    """Updates whose column order differs from the table's merge by name;
    the table keeps its own column order."""
    from etl_school_spark.sources.writers import merge_upsert

    table = str(tmp_path / "keyed")
    merge_upsert(spark, table, spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, v string, w double"), "id")
    updates = spark.createDataFrame([(20.0, 2, "b2"), (30.0, 3, "c")], "w double, id long, v string")
    assert merge_upsert(spark, table, updates, "id") == (2, 3)
    back = spark.read.parquet(table)
    assert back.columns == ["id", "v", "w"]
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a", 1.0), (2, "b2", 20.0), (3, "c", 30.0)]
