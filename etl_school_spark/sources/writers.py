"""Batch writers / load jobs (SURVEY.md §2.1 S7/S8/S18).

``copy_into`` reproduces the reference's stage→table load contract
(batch_insert.py:66-73): load every staged file matching a pattern into the
target (name-based column resolution), then purge consumed files so the
load is idempotent under re-runs. At cluster scale the "table" is a
directory-backed table (or catalog table) and the append is a metadata-only
file move for parquet-to-parquet loads.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_school_spark.session import arrow_rows, local_frame
from etl_school_spark.sources.readers import CORRUPT_COL, read_stage, split_corrupt

COPY_HISTORY_SCHEMA = (
    "target string, n_files long, rows_loaded long, rows_rejected long, "
    "file_bytes long, started double, completed double"
)

# the footer key under which Spark's parquet writer stores the table's
# Spark schema (as JSON); Spark's reader takes the schema from it
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def write_parquet(df: DataFrame, path: str, mode: str = "append") -> None:
    """S7: Parquet with snappy — the reference's transport format
    (batch_insert.py:62-64 disables dictionary encoding for Snowflake
    compatibility; Spark's default dictionary encoding is kept here, it is
    strictly better for scans)."""
    df.write.mode(mode).parquet(path, compression="snappy")


def append_rows(spark: SparkSession, table_dir: str, rows, schema: StructType | str) -> DataFrame:
    """Append a few driver-side rows (audit records, collected metrics) to
    the parquet table at ``table_dir`` as one file, and return them as a
    frame. Every audit table the engine keeps — ``task_history``,
    ``copy_history``, the DQ metrics table and the broker delivery audits —
    is appended here.

    The file is written on the driver with pyarrow, so the append runs no
    Spark job. Its footer carries the Spark schema under the key Spark's
    own writer uses (``SPARK_SCHEMA_KEY``), so Spark and ``read_table``
    read the rows back with their exact Spark types. It is written under a
    ``_``-prefixed name, which Spark's readers skip, and renamed into place
    only once complete: a crash mid-write leaves no partial rows in the
    table. The returned frame is the ``session.local_frame`` of the rows.
    """
    import pyarrow.parquet as pq

    table, schema = arrow_rows(rows, schema)
    # the writer version too, as Spark's writer stores it: Spark's reader
    # decides from it how to read old dates and timestamps
    table = table.replace_schema_metadata(
        {SPARK_SCHEMA_KEY: schema.json(), "org.apache.spark.version": spark.version}
    )
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(table_dir, "_" + name)
    try:
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, os.path.join(table_dir, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return local_frame(spark, rows, schema)


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read a parquet table this engine wrote, with the Spark schema stored
    in one data file's footer. A bare ``spark.read.parquet`` takes its
    schema from that same footer key, but it runs a Spark job to read the
    footer; this reads it on the driver. A table whose first data file
    carries no Spark schema (written by another tool), or that has
    partition subdirectories, is read by ``spark.read.parquet`` alone."""
    schema = _footer_schema(table_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(table_dir)


def _footer_schema(table_dir: str) -> StructType | None:
    """The Spark schema in the footer of the first data file directly in
    ``table_dir`` (in name order; Spark skips names starting with ``_`` or
    ``.``), or None."""
    import pyarrow.parquet as pq

    if not os.path.isdir(table_dir):
        return None
    with os.scandir(table_dir) as it:
        entries = sorted((e for e in it if not e.name.startswith(("_", "."))), key=lambda e: e.name)
    if not entries or any(e.is_dir() for e in entries):
        return None
    meta = pq.read_metadata(entries[0].path).metadata or {}
    stored = meta.get(SPARK_SCHEMA_KEY.encode())
    return StructType.fromJson(json.loads(stored)) if stored else None


def copy_into(
    spark: SparkSession,
    stage_dir: str,
    target_dir: str,
    schema: StructType,
    fmt: str = "json",
    pattern: str | None = None,
    purge: bool = True,
    history_dir: str | None = None,
) -> int:
    """S8/S11: load staged files into the target table dir, then purge.

    Returns the number of rows loaded. JSON is parsed with the
    ``_corrupt_record`` capture column (``read_stage`` adds it), so
    unparseable lines are diverted to ``<target_dir>__rejects`` rather than
    failing the load or loading as all-NULL rows. With
    ``history_dir`` set, appends one audit row per load — the
    ``copy_history`` analog (A4:390-398, 706-712) the monitoring queries
    aggregate (files, rows good/rejected, bytes, duration).
    """
    t0 = time.time()
    pat = pattern or "*"
    files = sorted(glob.glob(os.path.join(stage_dir, pat)))
    staged = read_stage(spark, stage_dir, schema, fmt=fmt, pattern=pattern)
    good, bad = split_corrupt(staged) if fmt == "json" else (staged, None)
    try:
        if bad is None:
            n, n_bad = good.count(), 0
        else:
            # one aggregation over the parse split_corrupt cached
            n, n_bad = staged.agg(
                F.count_if(F.col(CORRUPT_COL).isNull()), F.count_if(F.col(CORRUPT_COL).isNotNull())
            ).first()
        if n:
            write_parquet(good, target_dir)
        if n_bad:
            bad.write.mode("append").json(target_dir + "__rejects")
    finally:
        # split_corrupt cached the parse, and the cache matches plans by
        # path: left in place, the next load from this stage dir and schema
        # would be served this batch again instead of the new files
        staged.unpersist()
    if history_dir:
        row = (
            target_dir,
            len(files),
            int(n),
            int(n_bad),
            int(sum(os.path.getsize(f) for f in files if os.path.isfile(f))),
            float(t0),
            float(time.time()),
        )
        append_rows(spark, history_dir, [row], COPY_HISTORY_SCHEMA)
    if purge:
        for f in files:
            if os.path.isfile(f):
                os.remove(f)
    return n


def copy_history_rollup(spark: SparkSession, history_dir: str) -> DataFrame:
    """A10/T7: load-volume rollup over the copy audit —
    ``sum(row_count), sum(file_size)`` per target (A4:706-712)."""
    return (
        read_table(spark, history_dir)
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_loads"),
            F.sum("n_files").alias("total_files"),
            F.sum("rows_loaded").alias("total_rows"),
            F.sum("rows_rejected").alias("total_rejected"),
            F.sum("file_bytes").alias("total_bytes"),
            F.max("completed").alias("last_load"),
        )
    )


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
) -> tuple[int, int]:
    """Keyed MERGE (upsert) into a parquet-backed table: rows in
    ``updates`` replace same-key rows, new keys append. Implemented as
    current ⟕anti updates ∪ updates, then an atomic swap — the
    plain-parquet equivalent of MERGE INTO (a table format like
    Delta/Iceberg does this transactionally; the dataflow is identical).
    The anti join broadcasts the update KEYS only, so cost is one pass
    over the current table regardless of update width. The keys are not
    deduplicated first: a left-anti join keeps the same rows whether or
    not a key repeats on its right side, and a ``distinct`` would cost an
    exchange job of its own. The table is read with ``read_table``, so
    its schema costs no job, and both counts are observed during the one
    write: a merge into an existing table runs two jobs, the key
    broadcast and the write. Columns of ``updates`` are matched to the
    table's by name.

    Returns (rows_updated_or_inserted, total_rows_after).
    """
    from pyspark.sql import Observation

    _restore_interrupted_swap(table_dir)
    obs_upd, obs_total = Observation(), Observation()
    observed = updates.observe(obs_upd, F.count(F.lit(1)).alias("n"))
    if os.path.isdir(table_dir) and any(f.endswith(".parquet") for f in os.listdir(table_dir)):
        current = read_table(spark, table_dir)
        survivors = current.join(F.broadcast(updates.select(key)), key, "left_anti")
        merged = survivors.unionByName(observed)
    else:
        merged = observed
    replace_table(merged.observe(obs_total, F.count(F.lit(1)).alias("n")), table_dir)
    return obs_upd.get["n"], obs_total.get["n"]


def replace_table(df: DataFrame, table_dir: str) -> None:
    """Replace the parquet table at ``table_dir`` with ``df``: write it
    aside to ``<table_dir>__new``, then swap it in with
    ``_swap_into_place``. Every table rewrite (merge, compaction,
    retention) goes through here. ``df`` may read the table it replaces,
    so callers run ``_restore_interrupted_swap`` before they build it."""
    tmp = table_dir.rstrip("/") + "__new"
    df.write.mode("overwrite").parquet(tmp)
    _swap_into_place(tmp, table_dir)


def _restore_interrupted_swap(table_dir: str) -> None:
    """Finish what a crash inside ``_swap_into_place`` left behind. A lone
    ``__old`` is the only complete copy of the table (the crash came after
    the rename, before the move), so it goes back into place; next to a
    table dir it is the previous version, already replaced, and goes."""
    import shutil

    old = table_dir.rstrip("/") + "__old"
    if not os.path.isdir(old):
        return
    if os.path.isdir(table_dir):
        shutil.rmtree(old)
    else:
        os.rename(old, table_dir)


def _swap_into_place(tmp: str, table_dir: str) -> None:
    """Crash-safe directory swap: every intermediate state keeps at least
    one complete copy of the table (rename old aside → move new into
    place → delete old), unlike rmtree-then-move which has a window
    where the table is simply gone. Callers run
    ``_restore_interrupted_swap`` before they read the table, which
    recovers from a crash between any two steps."""
    import shutil

    old = table_dir.rstrip("/") + "__old"
    had_old = os.path.isdir(table_dir)
    if had_old:
        os.rename(table_dir, old)
    shutil.move(tmp, table_dir)
    if had_old:
        shutil.rmtree(old)


def compact_parquet_dir(
    spark: SparkSession, table_dir: str, target_file_mb: int = 128
) -> tuple[int, int]:
    """Small-file compaction for streaming/append sinks: rewrite the
    directory into ceil(bytes/target) files. Streaming sinks accrete one
    file per micro-batch; at scale the many-small-files tax (task per
    file, metadata pressure) makes periodic compaction a standard
    maintenance task. Returns (files_before, files_after)."""
    import math

    _restore_interrupted_swap(table_dir)
    files_before = [
        f for f in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    ]
    total = sum(os.path.getsize(f) for f in files_before)
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    replace_table(read_table(spark, table_dir).repartition(n_out), table_dir)
    files_after = glob.glob(os.path.join(table_dir, "*.parquet"))
    return len(files_before), len(files_after)


def export_csv(df: DataFrame, path: str | None = None, limit: int | None = None) -> str:
    """S18: CSV export of a (filtered) preview (A5:344-350).

    With ``path`` → distributed CSV write; without → driver-side string
    (the dashboard download path, bounded by ``limit``).
    """
    if path is not None:
        df.write.mode("overwrite").option("header", True).csv(path)
        return path
    pdf = (df.limit(limit) if limit else df).toPandas()
    return pdf.to_csv(index=False)
