"""Sinks (SURVEY §2.2): partitioned parquet writes + catalog-table helpers.

The reference wrote CSV per month in append mode then overwrote dims
(etl.py:101-105, 178-180, 193) and bulk-loaded a warehouse via
truncate-and-COPY (stage_redshift.py:34-48). The Spark-native equivalents:

- one partitioned parquet write (`partitionBy`) instead of a per-month
  append loop — readers get partition pruning for free;
- `overwrite` / `append` as an explicit single mode (the reference chained
  `.mode("append").mode("overwrite")` — last one wins, etl.py:105);
- dynamic partition overwrite for incremental month refresh, which is the
  scale-correct replacement for "reprocess one month": only the touched
  partitions rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Partition-aware parquet sink. ~100-200 MB target files at scale:
    set `max_records_per_file` or rely on AQE coalescing upstream.
    `compression`: snappy (default), zstd (better ratio, ~same read
    speed — prefer at 100 TB), gzip, none."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if compression:
        writer = writer.option("compression", compression)
    writer.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Incremental refresh: overwrite only the partitions present in `df`
    (dynamic partition overwrite). This is the 100 TB-safe version of the
    reference's per-month append (etl.py:101-102): re-running one month
    touches one partition, not the whole table."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def drop_table(spark: SparkSession, name: str) -> None:
    """DDL analog of drop_tables.sql (idempotent). Also purges an orphaned
    managed-table location: a previous session's saveAsTable leaves its
    directory under spark.sql.warehouse.dir while the (session-local
    in-memory) catalog forgets the table — without the purge, the next
    saveAsTable fails with LOCATION_ALREADY_EXISTS. Hadoop FS API, so the
    same code handles local disk and HDFS/object stores.

    When the table still exists in the catalog, its REAL location is
    resolved (DESCRIBE EXTENDED) and only purged if it is a managed
    location under the warehouse dir — never an external path. For the
    orphan case (catalog has already forgotten the table) the purge
    reconstructs the managed layout exactly: `<warehouse>/<table>` for
    unqualified names, `<warehouse>/<db>.db/<table>` for `db.table` —
    so dropping `db.t` can no longer delete an unrelated default-database
    table's directory at `<warehouse>/t`."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    location = None
    managed = False
    if spark.catalog.tableExists(name):
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
            if row.col_name == "Location":
                location = row.data_type
            elif row.col_name == "Type":
                managed = row.data_type.upper() == "MANAGED"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if location is None:
        # Orphan case: rebuild the managed location the catalog WOULD use.
        parts = [p.lower() for p in name.split(".")]
        if len(parts) == 1:
            location = f"{wh}/{parts[0]}"
        elif len(parts) == 2:
            location = f"{wh}/{parts[0]}.db/{parts[1]}"
        else:
            return  # catalog.db.table — no deterministic local layout; skip purge
        managed = True
    if not managed:
        return  # external table: dropping must never delete the data
    # Only ever delete under the warehouse dir (belt and braces for odd configs).
    norm = location.removeprefix("file:")
    if not norm.startswith(wh.removeprefix("file:")):
        return
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed catalog table: data is hash-partitioned into `n_buckets`
    files per write-task on `bucket_cols` at WRITE time, so every later
    join or aggregation on those columns is exchange-free — the scan
    itself reports HashPartitioning and Catalyst drops the shuffle. This
    is the 100 TB answer to "we join fact-to-fact on this key every day":
    pay the shuffle once at ingest, never again (the reference re-sorted
    its warehouse per load instead — stage_redshift.py:38-48).

    Both sides of a co-located join must use the same n_buckets and key.
    `sort_cols` additionally orders rows within each bucket file, letting
    sort-merge joins skip their sort step.

    With `path` the table is EXTERNAL at that location (purged first —
    stale bucket files from a previous layout must never mix with the new
    write); without, it is managed under spark.sql.warehouse.dir."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        spark = df.sparkSession
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            fs.delete(jpath, True)
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_shards: int | None = None,
    shard_by: Sequence[str] | None = None,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines export — the interchange format training pipelines ship
    (one JSON object per line, gzip/zstd-sharded). `num_shards`
    repartitions to a fixed shard count (round-robin when `shard_by` is
    None, hash-by-columns otherwise — co-locating a key into one shard);
    omit it to keep the upstream partitioning (AQE-sized files).
    Compression is per-file; gzip JSONL is NOT splittable — readers get
    one task per shard, so pick num_shards >= the consuming
    parallelism (or use zstd/none for splittable re-reads)."""
    out = df
    if num_shards is not None:
        out = (
            df.repartition(num_shards, *[F.col(c) for c in shard_by])
            if shard_by
            else df.repartition(num_shards)
        )
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    sep: str = ",",
    compression: str | None = None,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> None:
    """CSV sink with the reference's timestamp format (etl.py:101
    `timestampFormat 'yyyy-MM-dd HH:mm:ss'`) — interchange with
    spreadsheet/warehouse loaders that still expect CSV. Quoting/escape
    are Spark defaults (RFC-4180-ish); prefer parquet/JSONL for
    anything that re-enters the engine."""
    writer = (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("timestampFormat", timestamp_format)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)
